"""Documents → compressed blocks in one call, without staging.

The same two steps every index build runs (plans/build_index runs them
per resumable slice, with a parquet checkpoint between them):

    postings.token_relations   tokenize once → vocabulary dictionary
                               (stemming on distinct surface forms) →
                               broadcast-join → encode rows with dl
                               attached [aggregated (term_id, doc_id, dl)
                               postings: exchange 1 of the tf path]
    spimi.index_stats          N, id range (docs), Σcf and the df bound
                               (dictionary) — no pass over postings
    spimi.build_blocks         (term_id, bucket) exchange → sort → encode
                               kernel → df and max_score from block
                               metadata

so the tf path moves the corpus through TWO data-sized shuffles and the
positions path through ONE (occurrence rows; the kernel's run length is
tf, so no position list is ever aggregated).  On a memory-bandwidth-
bound box (see docs/DESIGN.md "Scaling investigation trail") the shuffle
bytes ARE the scaling ceiling.

A pure occurrence-level single-shuffle variant of the tf path was built
and MEASURED SLOWER (1M-doc Zipf(1.05) corpus, local[8]: raw occurrences
are ~2.7× posting rows on web-like skew, which out-costs the exchange it
saves) — that is why the tf path aggregates first.  Keep the measurement
habit: the winning shape depends on the occ/postings ratio, i.e. on the
corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docs_indexer_spark.config import BM25Params
from docs_indexer_spark.operators.postings import token_relations
from docs_indexer_spark.operators.spimi import build_blocks, index_stats


class FusedBuild:
    """Result bundle: blocks + dictionary + corpus stats.

    The dictionary relation is persisted during the build; call
    :meth:`unpersist` once blocks/terms/df_stats are consumed (a
    long-lived session otherwise accumulates one cached dict per build).
    """

    def __init__(self, blocks, terms, n_docs, avgdl, relations):
        self.blocks = blocks
        self.terms = terms
        self.n_docs = n_docs
        self.avgdl = avgdl
        self._relations = relations

    def unpersist(self) -> None:
        self._relations.unpersist()

    def df_stats(self) -> DataFrame:
        """(term_id, df) derived from block metadata — by construction
        consistent with the blocks themselves."""
        return self.blocks.groupBy("term_id").agg(
            F.sum("n_docs").cast("long").alias("df")
        )


def fused_build_blocks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "english",
    params: BM25Params = BM25Params(),
    n_buckets: int | None = None,
    norm_dtype=np.float32,
    target_run_postings: int = 1_000_000,
    positions: bool = False,
    store_tf: bool = False,
) -> FusedBuild:
    """Build the compressed block index from raw documents.  See the
    module docstring for the plan shape."""
    rel = token_relations(
        docs, text_col, id_col=id_col, analyzer=analyzer, positions=positions
    )
    stats = index_stats(docs, rel.dictionary, id_col)
    blocks = build_blocks(
        rel.rows, stats, params=params, n_buckets=n_buckets,
        norm_dtype=norm_dtype, target_run_postings=target_run_postings,
        store_tf=store_tf,
    )
    terms = rel.dictionary.select("term_id", "term").distinct()
    return FusedBuild(blocks, terms, stats.n_docs, stats.avgdl, rel)
