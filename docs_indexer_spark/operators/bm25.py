"""Okapi/Lucene BM25 exact scoring + distributed top-k (SURVEY.md §2 B7/B8).

Two scoring paths, both exact:

- :func:`score_from_tokens` — pure-DataFrame plan over the uncompressed
  (term, doc_id, tf) postings relation.  100% native expressions: filter on
  query terms (pushes down to the postings scan), broadcast the per-term
  idf (query terms only — tiny), native arithmetic, hash-aggregate sum,
  ``orderBy(...).limit(k)`` which Catalyst executes as
  TakeOrderedAndProject (per-partition heap top-k + driver merge — no
  global sort, no full shuffle).
- :func:`score_from_blocks` — decodes the compressed posting blocks
  (operators/spimi.py) with a vectorized mapInPandas and feeds the same
  aggregate.  Used to cross-check the compressed index and as the exact
  fallback for block-max WAND (operators/wand.py).

Tie-break pinned everywhere: score DESC, doc_id ASC.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterable, Iterator, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docs_indexer_spark.config import BM25Params, DEFAULT_TOP_K
from docs_indexer_spark.operators.compression import (
    decode_tf_norms,
    segmented_cumsum,
    varint_decode_bytes,
)
from docs_indexer_spark.operators.postings import idf_col
from docs_indexer_spark.session import local_frame

if TYPE_CHECKING:
    from pyspark.broadcast import Broadcast

TOPK_SCHEMA = "doc_id long, score double"


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


def decode_blocks_iter(
    block_batches: Iterator[pd.DataFrame],
    idf: Mapping[int, float],
    allowed: np.ndarray | None = None,
) -> Iterator[pd.DataFrame]:
    """Compressed blocks → (doc_id, partial score): the exact scorer's
    decode, run by its mapInPandas stage and by IndexReader's
    driver-local route.  ``allowed`` (a sorted unique int64 array) is a
    FILTERED query's doc set: blocks whose ``[first_doc_id,
    last_doc_id]`` range holds none of it are skipped before decode, and
    decoded postings are masked to it before they ever leave the
    kernel."""
    from docs_indexer_spark.operators.wand import _in_sorted, blocks_containing

    for pdf in block_batches:
        if allowed is not None and len(pdf):
            pdf = pdf[blocks_containing(
                pdf["first_doc_id"].values, pdf["last_doc_id"].values, allowed
            )]
        w = np.array(
            [idf.get(int(t)) or 0.0 for t in pdf["term_id"].values],
            dtype=np.float64,
        )
        pdf, w = pdf[w > 0], w[w > 0]
        if pdf.empty:
            continue
        # every block's varint stream decodes in one pass over the
        # joined bytes, not block by block
        gaps, n = varint_decode_bytes(pdf["doc_ids_bin"].values)
        ids = segmented_cumsum(gaps, n)
        scores = decode_tf_norms(
            b"".join(pdf["tf_norms_bin"].values), len(ids)
        ).astype(np.float64) * np.repeat(w, n)
        if allowed is not None:
            keep = _in_sorted(ids, allowed)
            ids, scores = ids[keep], scores[keep]
        if len(ids):
            yield pd.DataFrame({"doc_id": ids, "partial": scores})


def topk_partials(
    doc_ids: np.ndarray,
    partials: np.ndarray,
    k: int,
    n_required: int | None = None,
    after: "tuple[float, int] | None" = None,
    exclude: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_id, partial) postings → the exact top ``k`` as (doc_ids,
    scores) sorted by (score desc, doc_id asc): the fused sum + count
    aggregate and top-k of the exact scorer in one numpy pass — the
    driver-local route's scorer and WAND's exhaustive drain.

    ``n_required`` keeps only docs with that many partials (boolean AND:
    a doc has one posting per term); ``after=(score, doc_id)`` keeps
    only docs strictly after the cursor in the result order;
    ``exclude`` drops one doc id (more_like_this's seed)."""
    uniq, inv = np.unique(doc_ids, return_inverse=True)
    # bincount's contiguous accumulate is ~10x faster than the np.add.at
    # scatter path on large inverse arrays
    acc = np.bincount(inv, weights=partials, minlength=len(uniq))
    keep = np.ones(len(uniq), dtype=bool)
    if n_required is not None:
        keep &= np.bincount(inv, minlength=len(uniq)) == n_required
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        keep &= (acc < s0) | ((acc == s0) & (uniq > d0))
    if exclude is not None:
        keep &= uniq != exclude
    uniq, acc = uniq[keep], acc[keep]
    if 0 < k < len(uniq):
        # candidate cut: every doc scoring at least the k-th value (ties
        # INCLUDED, so the doc_id tie-break keeps its winner), then one
        # exact sort of the survivors
        kth = np.partition(acc, len(acc) - k)[len(acc) - k]
        cut = acc >= kth
        uniq, acc = uniq[cut], acc[cut]
    order = np.lexsort((uniq, -acc))[:k]
    return uniq[order], acc[order]


def score_from_blocks(
    blocks: DataFrame,
    idf: Mapping[int, float],
    query_term_ids: Iterable[int],
    k: int = DEFAULT_TOP_K,
    require_all: bool = False,
    allowed: "np.ndarray | Broadcast | DataFrame | None" = None,
    after: "tuple[float, int] | None" = None,
) -> DataFrame:
    """Exact BM25 top-k from the compressed block index.

    ``after=(score, doc_id)`` — cursor pagination (OpenSearch
    ``search_after`` under the ``[_score desc, doc_id asc]`` sort): only
    documents STRICTLY after the cursor in that total order can enter
    the top-k, so page N+1 costs the same one pass as page 1 and the
    driver never re-materializes earlier pages (the from+size shape
    does).  The float equality in the tie-arm is sound because the
    cursor is a score this same deterministic plan produced.

    The `term_id IN (...)` filter prunes row groups before any decode;
    decode is vectorized numpy inside mapInPandas; the final aggregate +
    top-k is native.

    ``require_all=True`` = boolean AND: a document has at most one posting
    per term, so the per-doc partial COUNT equals its distinct matched
    terms — compared against the scoring term count, no extra shuffle.

    ``allowed`` restricts scoring to a document filter set (OpenSearch
    bool-filter semantics), in one of two shapes chosen by the caller's
    filter cardinality:

    - numpy array of doc_ids, or a broadcast of one the caller owns
      (SELECTIVE filter; see wand.broadcast_allowed): inside the decode
      kernel, blocks with no eligible doc are metadata-pruned before
      decode and decoded postings are masked — no extra stage, no
      shuffle;
    - DataFrame with a doc_id column (LARGE filter): a distributed
      LEFT SEMI join on the partials before the aggregate — low
      selectivity means near-exhaustive scoring anyway, so the doc_id
      shuffle is the scalable plan and nothing driver-sized exists.
    """
    terms = sorted(set(query_term_ids))
    if not terms:
        return local_frame(blocks.sparkSession, TOPK_SCHEMA)
    allowed_bc = None
    allowed_df = None
    if isinstance(allowed, DataFrame):
        allowed_df = allowed.select("doc_id")
    elif allowed is not None:
        from docs_indexer_spark.operators.wand import broadcast_allowed

        allowed_bc = broadcast_allowed(blocks.sparkSession.sparkContext, allowed)
        if allowed_bc is None:
            return local_frame(blocks.sparkSession, TOPK_SCHEMA)
    # the unfiltered scan stays 3 columns — range metadata is read only
    # when the kernel prunes blocks against a filter
    cols = ["term_id", "doc_ids_bin", "tf_norms_bin"]
    if allowed_bc is not None:
        cols += ["first_doc_id", "last_doc_id"]
    hit = blocks.filter(F.col("term_id").isin(terms)).select(*cols)
    partials = hit.mapInPandas(
        lambda it: decode_blocks_iter(
            it, idf,
            allowed=allowed_bc.value if allowed_bc is not None else None,
        ),
        schema="doc_id long, partial double",
    )
    if allowed_df is not None:
        partials = partials.join(allowed_df, "doc_id", "left_semi")
    scored = partials.groupBy("doc_id").agg(
        F.sum("partial").alias("score"),
        F.count(F.lit(1)).alias("_nt"),
    )
    if require_all:
        n_scoring = len([t for t in terms if idf.get(int(t))])
        scored = scored.filter(F.col("_nt") == n_scoring)
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("score") < s0)
            | ((F.col("score") == s0) & (F.col("doc_id") > d0))
        )
    return (
        scored.drop("_nt").orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )


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
