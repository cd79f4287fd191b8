"""Positional postings + phrase matching (SURVEY.md §2 B6 positions).

The reference mapping requests ``term_vector: with_positions_offsets`` on
title/body/text (/root/reference/mappings/hugo.json:6,48,60) — OpenSearch
stores token positions so phrase and proximity queries work.  Re-expressed
Spark-first:

    docs → posexplode(tokens)                  [(doc_id, pos, term)]
         → groupBy(term, doc_id)
             .agg(count → tf, sort_array(collect_list(pos)) → positions)

``pos`` is the token's index in the ANALYZED stream before any vocabulary-
level filtering, so under the english chain a dropped stopword still
advances positions — exactly Lucene's position-increment behavior ("big
data" matches in "big the data"-free text but "big ... data" with a
stopword between keeps the gap, as OpenSearch would).

Phrase matching: the phrase occurs at anchor p iff p + offsetᵢ ∈ P(tᵢ)
for every term i.  :func:`phrase_occurrences` states it in native array
algebra over the uncompressed positional postings (the reference the
tests and the oracle row compare against).  Over the compressed block
index it is ONE numpy kernel, :func:`phrase_topk`: IndexReader's
driver-local route runs it over a query's every hit block, and
:func:`phrase_match_blocks` runs it once per doc-range bucket
(buckets partition the doc space, so each bucket's matches are exact)
— the exchange carries the phrase terms' compressed blocks keyed by
bucket, never decoded positions keyed by doc_id.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docs_indexer_spark.session import local_frame

# the positional block columns :func:`phrase_topk` reads
POSITION_COLUMNS = [
    "term_id", "first_doc_id", "last_doc_id", "doc_ids_bin", "tfs_bin",
    "positions_bin",
]


def token_positions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "simple",
) -> DataFrame:
    """(term, doc_id, tf, positions array<int>) — positional postings.

    ``simple`` / ``stop`` chains run as native expressions.  For ``stop``,
    positions index the UNFILTERED token stream (posexplode before the
    stopword filter), matching Lucene's position increments across removed
    stopwords.
    """
    from docs_indexer_spark.functions.analysis import (
        ENGLISH_STOPWORDS,
        tokens_col,
    )
    from docs_indexer_spark.session import spread

    toks = tokens_col(text_col)
    base = spread(docs, key=id_col).select(
        F.col(id_col), F.posexplode(toks).alias("pos", "term")
    )
    if analyzer == "stop":
        stop_arr = F.array(*[F.lit(w) for w in sorted(ENGLISH_STOPWORDS)])
        base = base.filter(~F.array_contains(stop_arr, F.col("term")))
    elif analyzer != "simple":
        raise ValueError(f"unsupported analyzer for positions: {analyzer}")
    return base.groupBy("term", id_col).agg(
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"),
    )


def _shift(offset: int):
    """Closure factory: a ``lambda x, o=offset`` default-arg form would be
    dispatched as a TWO-arg (element, index) HOF lambda by PySpark — the
    arity, not the names, selects the overload."""
    return lambda x: x - F.lit(offset)


def phrase_occurrences(
    pos_postings: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    term_col: str = "term",
) -> DataFrame:
    """(doc_id, n_occurrences, first_pos) for documents containing the
    exact phrase ``terms`` (adjacent positions).

    Implementation: intersect position sets shifted by their offset in the
    phrase.  Identical repeated terms are handled naturally (the same
    posting row joins at each offset).
    """
    if not terms:
        raise ValueError("empty phrase")
    # one filtered pass + one doc-keyed conditional aggregate instead of
    # a k−1 join chain: each join side re-evaluated the positional
    # postings aggregate (the per-term filter is on the grouping column,
    # so Catalyst pushes it BELOW the aggregate — once per side), and
    # each join paid its own exchange.  first(when(term = tᵢ, ...)) is
    # deterministic — postings hold one row per (term, doc); docs
    # missing a term aggregate to NULL and drop (inner-join semantics).
    flt = pos_postings.filter(F.col(term_col).isin(sorted(set(terms))))
    aggs = [
        F.first(
            F.when(
                F.col(term_col) == t,
                F.transform("positions", _shift(i)),
            ),
            ignorenulls=True,
        ).alias(f"p{i}")
        for i, t in enumerate(terms)
    ]
    grouped = flt.groupBy(id_col).agg(*aggs)
    present = None
    acc = F.col("p0")
    for i in range(len(terms)):
        c = F.col(f"p{i}").isNotNull()
        present = c if present is None else (present & c)
        if i > 0:
            acc = F.array_intersect(acc, F.col(f"p{i}"))
    return (
        grouped.filter(present)
        .select(F.col(id_col), acc.alias("_hits"))
        .filter(F.size("_hits") > 0)
        .select(
            id_col,
            F.size("_hits").alias("n_occurrences"),
            F.array_min("_hits").alias("first_pos"),
        )
    )


def rarest_lead(
    tids: list[int], nd: dict[int, int], block_size: int | None = None
) -> int | None:
    """The phrase term whose docs should prune the others' blocks, or
    None when pruning cannot pay.  ``nd`` maps every term of ``tids`` to
    its df.

    The result docs are a subset of the RAREST term's docs (Lucene's
    advance()-driven conjunction, at block granularity): with rare docs
    spread uniformly, the kept fraction of a head term's blocks is
    ≈ 1 − e^(−λ) for λ = B·df_rare/df_head (B = postings per block), so
    the lead engages when df_rare·B ≤ df_head (λ ≤ 1 → ≥37% skipped, far
    more for clustered or very rare terms).  The other terms' blocks are
    tested against the rare term's DOCS, not its blocks' ranges: a sparse
    term's blocks span doc ranges that cover the whole space.
    Both-terms-frequent phrases pay O(Σ df) like every positional engine.
    ``block_size`` is B:
    callers reading a PUBLISHED index pass the generation's recorded
    block size; the default is this build's config.BLOCK_SIZE."""
    from docs_indexer_spark.config import BLOCK_SIZE

    if block_size is None:
        block_size = BLOCK_SIZE
    terms = set(tids)
    rare = min(terms, key=lambda t: nd[t])
    if len(terms) > 1 and nd[rare] * block_size <= max(nd[t] for t in terms):
        return rare
    return None


def phrase_topk(
    blocks: pa.Table,
    term_ids: list[int],
    offsets: list[int],
    k: int | None,
    lead: int | None = None,
) -> dict[str, np.ndarray]:
    """Phrase matching and its (n_occurrences desc, doc_id asc) top
    ``k`` (None: every match), in numpy on one Arrow table of positional
    hit blocks of the phrase terms, in any row order — the definition of
    a phrase match over the block index, which both serving routes run:
    over a query's every hit block (IndexReader's driver-local route) or
    over one bucket's (:func:`phrase_match_blocks`).  An occurrence is an
    anchor ``a`` with ``a + offsets[i]`` in term i's positions for every
    i, counted once; ``first_pos`` is the least anchor plus
    ``offsets[0]``.  ``lead`` (:func:`rarest_lead`) drops, before any
    position decode, the blocks holding none of that term's docs
    (spimi.lead_pruned).  Returns the result columns."""
    from docs_indexer_spark.operators.spimi import (
        decode_positions,
        lead_pruned,
    )
    from docs_indexer_spark.operators.bm25 import _in_sorted

    tids = [int(t) for t in term_ids]
    none = {"doc_id": np.empty(0, np.int64),
            "n_occurrences": np.empty(0, np.int32),
            "first_pos": np.empty(0, np.int32)}
    if lead is not None:
        blocks = lead_pruned(blocks, lead)
    # blocks in (term_id, first_doc_id) order: a term's blocks cover
    # disjoint doc ranges, so each term's postings decode to one slice
    # ascending by doc, and each posting's positions ascend
    bt = blocks.column("term_id").to_numpy()
    bf = blocks.column("first_doc_id").to_numpy()
    if len(bt) > 1 and np.any(
        (bt[1:] < bt[:-1]) | ((bt[1:] == bt[:-1]) & (bf[1:] < bf[:-1]))
    ):
        blocks = blocks.take(np.lexsort((bf, bt)))
    dec = decode_positions(blocks)
    terms = sorted(set(tids))
    lo_p = np.searchsorted(dec.term_id, terms, side="left")
    hi_p = np.searchsorted(dec.term_id, terms, side="right")
    # only docs holding every phrase term can match
    docs = dec.doc_id[lo_p[0]:hi_p[0]]
    for s, e in zip(lo_p[1:], hi_p[1:]):
        docs = docs[_in_sorted(docs, dec.doc_id[s:e])]
    keep = _in_sorted(dec.doc_id, docs)
    if not keep.any():
        return none
    tf = dec.tf[keep]
    # (doc, position) packed into one int64 key: the dense doc index in
    # the high 32 bits, the position plus r in the low ones (positions
    # are int32; offsets rebased to 0..r), so keys ascend within each
    # term's slice and a shifted anchor never leaves its doc
    off = [int(o) - min(offsets) for o in offsets]
    r = max(off)
    keys = dec.positions[np.repeat(keep, dec.tf)]
    keys += np.repeat((np.searchsorted(docs, dec.doc_id[keep]) << 32) + r, tf)
    # each term's slice of the kept positions
    kept_before = np.concatenate(([0], np.cumsum(keep)))
    pos_before = np.concatenate(([0], np.cumsum(tf)))
    term_keys = {
        t: keys[pos_before[kept_before[s]]:pos_before[kept_before[e]]]
        for t, s, e in zip(terms, lo_p, hi_p)
    }
    # anchors of the slot with the fewest kept positions, then kept
    # where every other slot's term holds anchor + its offset: the few
    # anchors are searched in the larger slice, which is never re-keyed
    slots = sorted(range(len(tids)), key=lambda i: len(term_keys[tids[i]]))
    acc = term_keys[tids[slots[0]]] - off[slots[0]]
    for i in slots[1:]:
        acc = acc[_in_sorted(acc + off[i], term_keys[tids[i]])]
    if not len(acc):  # the terms co-occur, never at the phrase offsets
        return none
    # keys sort by doc, then anchor: a doc's first key is its least anchor
    hit_doc = acc >> 32
    first = np.flatnonzero(
        np.concatenate(([True], hit_doc[1:] != hit_doc[:-1]))
    )
    n_occ = np.diff(np.append(first, len(acc)))
    top = np.argsort(-n_occ, kind="stable")[:k]
    return {
        "doc_id": docs[hit_doc[first[top]]],
        "n_occurrences": n_occ[top].astype(np.int32),
        "first_pos": ((acc[first[top]] & 0xFFFFFFFF) - r + off[0]).astype(
            np.int32
        ),
    }


def phrase_match_blocks(
    blocks: DataFrame,
    term_ids: list[int],
    id_col: str = "doc_id",
    offsets: list[int] | None = None,
    term_dfs: dict[int, int] | None = None,
    block_size: int | None = None,
) -> DataFrame:
    """Phrase matching over the COMPRESSED block index (requires blocks
    built with ``positions=True``): every matching doc with
    (n_occurrences, first_pos), as :func:`phrase_occurrences` gives them
    over the uncompressed postings.

    Plan: `term_id IN (...)` (prunes the parquet scan to the phrase
    terms' blocks) → groupBy(bucket).applyInArrow(:func:`phrase_topk`
    with no cut).  Buckets partition the doc space, so a bucket's
    matches are exact: no doc-keyed exchange, and every block decodes at
    most once.

    ``term_ids`` are xxhash64(term) of the phrase terms IN ORDER.
    ``offsets`` are each term's position offset within the phrase
    (default 0..k-1 = strict adjacency); a stopword-filtered query keeps
    its original token indices here so "merge the sort" matches documents
    where the terms are two apart — Lucene match_phrase's position
    increments.

    ``term_dfs`` (term_id → df) lets the caller supply document
    frequencies it already holds (IndexReader's driver-side term table;
    the fused build's df relation) so NO extra job runs here; without it
    one block-metadata aggregate computes them.  They decide the
    rarest-lead block pruning (:func:`rarest_lead`, with ``block_size``
    as B) on the driver; the kernel applies it per bucket.
    """
    if offsets is None:
        offsets = list(range(len(term_ids)))
    tids = [int(t) for t in term_ids]
    cand = blocks.filter(F.col("term_id").isin(tids))
    schema = f"{id_col} long, n_occurrences int, first_pos int"
    if term_dfs is not None:
        nd = {int(t): int(df) for t, df in term_dfs.items()}
    else:
        nd = {
            int(r["term_id"]): int(r["nd"])
            for r in cand.groupBy("term_id")
            .agg(F.sum("n_docs").alias("nd"))
            .collect()
        }
    if any(t not in nd or nd[t] <= 0 for t in set(tids)):
        # a phrase term absent from the index can never match — answer
        # without touching a single block
        return local_frame(blocks.sparkSession, schema)
    lead = rarest_lead(tids, nd, block_size)

    def per_bucket(table: pa.Table) -> pa.Table:
        res = phrase_topk(table, tids, offsets, None, lead=lead)
        return pa.table(
            [res["doc_id"], res["n_occurrences"], res["first_pos"]],
            names=[id_col, "n_occurrences", "first_pos"],
        )

    return cand.select("bucket", *POSITION_COLUMNS).groupBy(
        "bucket"
    ).applyInArrow(per_bucket, schema=schema)
