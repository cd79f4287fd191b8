"""Okapi/Lucene BM25 exact scoring + distributed top-k (SURVEY.md §2 B7/B8).

Two scoring paths, both exact:

- :func:`score_from_tokens` — pure-DataFrame plan over the uncompressed
  (term, doc_id, tf) postings relation.  100% native expressions: filter on
  query terms (pushes down to the postings scan), broadcast the per-term
  idf (query terms only — tiny), native arithmetic, hash-aggregate sum,
  ``orderBy(...).limit(k)`` which Catalyst executes as
  TakeOrderedAndProject (per-partition heap top-k + driver merge — no
  global sort, no full shuffle).
- :func:`score_from_blocks` — the compressed posting blocks
  (operators/spimi.py) scored by ONE numpy kernel, :func:`blocks_topk`
  (decode + per-doc sum/count + AND + ``search_after`` + top-k), run once
  per doc-range bucket then merged by TakeOrderedAndProject.  IndexReader
  serves every scored query through it above its driver-local cap (OR,
  AND, filtered, ``search_after``, fuzzy, prefix and more_like_this),
  and its driver-local route runs the same kernel over all of a query's
  blocks.  The kernel is exhaustive: it decodes every hit posting, sums
  per doc and cuts the top k.  No block-max bound is consulted, so the
  blocks' ``max_score`` column is not read (docs/DESIGN.md "One
  exhaustive block kernel").

Tie-break pinned everywhere: score DESC, doc_id ASC.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterable, Mapping

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docs_indexer_spark.config import BM25Params, DEFAULT_TOP_K
from docs_indexer_spark.operators.compression import (
    binary_column_bytes,
    decode_tf_norms,
    segmented_cumsum,
    varint_decode_column,
)
from docs_indexer_spark.operators.postings import idf_col
from docs_indexer_spark.session import local_frame

if TYPE_CHECKING:
    from pyspark.broadcast import Broadcast

TOPK_SCHEMA = "doc_id long, score double"


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
    pruning primitive of the serving kernels: the filter bitset in
    :func:`decode_partials`, the rarest term's docs in the phrase
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


def kernel_columns(filtered: bool) -> list[str]:
    """The block columns :func:`blocks_topk` reads: an unfiltered query
    needs no range metadata, a filtered one prunes blocks by it."""
    cols = ["term_id", "doc_ids_bin", "tf_norms_bin"]
    return cols + ["first_doc_id", "last_doc_id"] if filtered else cols


def score_from_tokens(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    query_terms: Iterable[str],
    params: BM25Params = BM25Params(),
    k: int = DEFAULT_TOP_K,
    require_all: bool = False,
) -> DataFrame:
    """Exact BM25 top-k from the uncompressed postings relation.

    Plan shape: postings filtered by `term IN (...)` (partition/row-group
    pruning on a term-sorted store) → join doc lengths on doc_id → per-term
    df over the *filtered* postings (tiny) joined back broadcast → native
    score expression → groupBy(doc_id).sum → TakeOrderedAndProject(k).

    ``require_all=True`` is boolean-AND semantics (OpenSearch
    ``operator: and``): only documents containing EVERY query term score —
    a HAVING on the per-doc distinct-term count, no extra shuffle.
    """
    terms = sorted(set(query_terms))
    if not terms:
        return local_frame(postings.sparkSession, TOPK_SCHEMA)
    hits = postings.filter(F.col("term").isin(terms))
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        hits.join(F.broadcast(dfs), "term")
        .join(doclens, "doc_id")
        .withColumn("idf", idf_col(F.col("df"), n_docs))
        .withColumn(
            "tfn",
            F.col("tf")
            / (
                F.col("tf")
                + params.k1
                * (1.0 - params.b + params.b * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("idf") * F.col("tfn")).alias("score"),
            F.count_distinct(F.col("term")).alias("_nt"),
        )
    )
    if require_all:
        scored = scored.filter(F.col("_nt") == len(terms))
    return (
        scored.drop("_nt")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def decode_partials(
    blocks: pa.Table,
    idf: Mapping[int, float],
    allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Compressed blocks (an Arrow table) → (doc_id, partial score) per
    posting.  ``allowed`` (a sorted unique int64 array) is a FILTERED
    query's doc set: blocks whose ``[first_doc_id, last_doc_id]`` range
    holds none of it are skipped before decode, and decoded postings are
    masked to it.  Postings come out in term_id order, so a doc's
    partials sum in the same order on every route and in every run."""
    if allowed is not None and blocks.num_rows:
        blocks = blocks.filter(pa.array(blocks_containing(
            blocks.column("first_doc_id").to_numpy(),
            blocks.column("last_doc_id").to_numpy(),
            allowed,
        )))
    tids = blocks.column("term_id").to_numpy()
    if np.any(tids[1:] < tids[:-1]):
        blocks = blocks.sort_by("term_id")
        tids = blocks.column("term_id").to_numpy()
    uniq, inv = np.unique(tids, return_inverse=True)
    w = np.array([idf.get(int(t)) or 0.0 for t in uniq], dtype=np.float64)[inv]
    if not (w > 0).all():
        blocks, w = blocks.filter(pa.array(w > 0)), w[w > 0]
    # every block's varint stream decodes in one pass over the column's
    # joined bytes, not block by block
    gaps, n = varint_decode_column(blocks.column("doc_ids_bin"))
    ids = segmented_cumsum(gaps, n)
    scores = decode_tf_norms(
        binary_column_bytes(blocks.column("tf_norms_bin")), len(ids)
    ).astype(np.float64) * np.repeat(w, n)
    if allowed is not None:
        keep = _in_sorted(ids, allowed)
        ids, scores = ids[keep], scores[keep]
    return ids, scores


def topk_partials(
    doc_ids: np.ndarray,
    partials: np.ndarray,
    k: int | None,
    n_required: int | None = None,
    after: "tuple[float, int] | None" = None,
    exclude: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_id, partial) postings → the exact top ``k`` as (doc_ids,
    scores) sorted by (score desc, doc_id asc): the fused sum + count
    aggregate and top-k of the exact scorer in one numpy pass.

    ``n_required`` keeps only docs with that many partials (boolean AND:
    a doc has one posting per term); ``after=(score, doc_id)`` keeps
    only docs strictly after the cursor in the result order;
    ``exclude`` drops one doc id (more_like_this's seed).  ``k=None``
    keeps every qualifying doc."""
    uniq, inv = np.unique(doc_ids, return_inverse=True)
    # bincount's contiguous accumulate is ~10x faster than the np.add.at
    # scatter path on large inverse arrays
    acc = np.bincount(inv, weights=partials, minlength=len(uniq)).astype(
        np.float64, copy=False
    )  # (an empty bincount is int64)
    keep = np.ones(len(uniq), dtype=bool)
    if n_required is not None:
        keep &= np.bincount(inv, minlength=len(uniq)) == n_required
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        keep &= (acc < s0) | ((acc == s0) & (uniq > d0))
    if exclude is not None:
        keep &= uniq != exclude
    uniq, acc = uniq[keep], acc[keep]
    if k is not None and 0 < k < len(uniq):
        # candidate cut: every doc scoring at least the k-th value (ties
        # INCLUDED, so the doc_id tie-break keeps its winner), then one
        # exact sort of the survivors
        kth = np.partition(acc, len(acc) - k)[len(acc) - k]
        cut = acc >= kth
        uniq, acc = uniq[cut], acc[cut]
    order = np.lexsort((uniq, -acc))[:k]
    return uniq[order], acc[order]


def blocks_topk(
    blocks: pa.Table,
    idf: Mapping[int, float],
    k: int | None,
    allowed: np.ndarray | None = None,
    n_required: int | None = None,
    after: "tuple[float, int] | None" = None,
    exclude: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The exact scorer: :func:`decode_partials` then
    :func:`topk_partials` over one Arrow table of hit blocks.  Both
    routes run it — IndexReader's driver-local route once over a query's
    every hit block, :func:`score_from_blocks` once per bucket (buckets
    partition the doc space, so a bucket's answer is exact for its
    docs)."""
    ids, partials = decode_partials(blocks, idf, allowed)
    return topk_partials(
        ids, partials, k, n_required=n_required, after=after,
        exclude=exclude,
    )


def score_from_blocks(
    blocks: DataFrame,
    idf: Mapping[int, float],
    query_term_ids: Iterable[int],
    k: int = DEFAULT_TOP_K,
    require_all: bool = False,
    allowed: "np.ndarray | Broadcast | DataFrame | None" = None,
    after: "tuple[float, int] | None" = None,
    exclude: int | None = None,
) -> DataFrame:
    """Exact BM25 top-k from the compressed block index.

    Plan: `term_id IN (...)` (prunes row groups before any decode) →
    groupBy(bucket).applyInArrow(:func:`blocks_topk`) →
    TakeOrderedAndProject(k).  Buckets partition the doc space, so each
    bucket's top-k is exact for its docs and the exchange carries
    compressed blocks keyed by bucket — never a row per posting.

    ``require_all=True`` = boolean AND: a document has at most one posting
    per term, so its partial COUNT equals its distinct matched terms —
    compared against the scoring term count inside the kernel.

    ``after=(score, doc_id)`` — cursor pagination (OpenSearch
    ``search_after`` under the ``[_score desc, doc_id asc]`` sort): only
    documents STRICTLY after the cursor in that total order can enter
    the top-k, so page N+1 costs the same one pass as page 1 and the
    driver never re-materializes earlier pages (the from+size shape
    does).  The float equality in the tie-arm is sound because the
    cursor is a score this same deterministic kernel produced.

    ``exclude`` drops one doc id before the cut (more_like_this's seed).

    ``allowed`` restricts scoring to a document filter set (OpenSearch
    bool-filter semantics), in one of two shapes chosen by the caller's
    filter cardinality:

    - numpy array of doc_ids, or a broadcast of one the caller owns
      (SELECTIVE filter; see :func:`broadcast_allowed`): inside the kernel,
      blocks with no eligible doc are metadata-pruned before decode and
      decoded postings are masked — no extra stage, no shuffle;
    - DataFrame with a doc_id column (LARGE filter): the kernel keeps
      every scored doc of its bucket (no cut), a distributed LEFT SEMI
      join on doc_id filters them, then the global cut — low selectivity
      means near-exhaustive scoring anyway, and nothing driver-sized
      exists.
    """
    terms = sorted(set(query_term_ids))
    if not terms:
        return local_frame(blocks.sparkSession, TOPK_SCHEMA)
    allowed_bc = None
    allowed_df = None
    if isinstance(allowed, DataFrame):
        allowed_df = allowed.select("doc_id")
    elif allowed is not None:
        allowed_bc = broadcast_allowed(blocks.sparkSession.sparkContext, allowed)
        if allowed_bc is None:
            return local_frame(blocks.sparkSession, TOPK_SCHEMA)
    n_required = (
        len([t for t in terms if idf.get(int(t))]) if require_all else None
    )
    cut = None if allowed_df is not None else k

    def per_bucket(table: pa.Table) -> pa.Table:
        doc_ids, scores = blocks_topk(
            table, idf, cut,
            allowed=allowed_bc.value if allowed_bc is not None else None,
            n_required=n_required, after=after, exclude=exclude,
        )
        return pa.table({"doc_id": doc_ids, "score": scores})

    scored = (
        blocks.filter(F.col("term_id").isin(terms))
        .select("bucket", *kernel_columns(allowed_bc is not None))
        .groupBy("bucket")
        .applyInArrow(per_bucket, schema=TOPK_SCHEMA)
    )
    if allowed_df is not None:
        scored = scored.join(allowed_df, "doc_id", "left_semi")
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def score_most_fields(
    fields,
    query_terms: Iterable[str],
    k: int = DEFAULT_TOP_K,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """OpenSearch ``multi_match`` type ``most_fields``: every field is
    scored with ITS OWN statistics (per-field df and avgdl — exactly
    what separate per-field indices give), per-doc field scores are
    boost-weighted and summed, and ONE top-k runs over the sum.
    ``fields`` = list of ``(postings, doclens, n_docs, avgdl, boost)``.

    Plan: per field, the same filtered-postings scoring join as
    :func:`score_from_tokens`; the per-field partials are UNIONED
    BEFORE any cut — a per-field top-k first would be the
    dis_max/best_fields shape and can drop a doc that is mediocre in
    every field but best overall — then one doc_id aggregate feeds
    TakeOrderedAndProject(k).  Everything stays term-filtered, so the
    union is O(Σ df(query term)) rows per field — query-sized, never
    corpus-sized."""
    if not fields:
        raise ValueError("score_most_fields: fields must be non-empty")
    terms = sorted(set(query_terms))
    parts = []
    for postings, doclens, n_docs, avgdl, boost in fields:
        if not terms:
            continue
        hits = postings.filter(F.col("term").isin(terms))
        dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        parts.append(
            hits.join(F.broadcast(dfs), "term")
            .join(doclens, "doc_id")
            .withColumn("idf", idf_col(F.col("df"), n_docs))
            .withColumn(
                "tfn",
                F.col("tf")
                / (
                    F.col("tf")
                    + params.k1
                    * (1.0 - params.b + params.b * F.col("dl") / F.lit(avgdl))
                ),
            )
            .select(
                "doc_id",
                (F.col("idf") * F.col("tfn") * F.lit(float(boost))).alias(
                    "partial"
                ),
            )
        )
    if not parts:
        return local_frame(fields[0][0].sparkSession, TOPK_SCHEMA)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("doc_id")
        .agg(F.sum("partial").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
