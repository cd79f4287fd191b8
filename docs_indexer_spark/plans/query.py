"""Query entry point — the Spark-native mirror of the reference's search
path (/root/reference/test/integrationtest.sh:19 → OpenSearch `_search`,
SURVEY.md §3.3):

    analyze query string with the index's analyzer
    → per-term idf lookup (driver-side: xxhash64 term ids searched in the
      reader's sorted (term_id, df) arrays — no Spark job)
    → block-max WAND (or exact scoring) over the published block index
    → top-k (score desc, doc_id asc)
    → join the doc store for rendering fields

Two routes (docs/DESIGN.md "Serving cost model"):

- driver-local, for a query whose estimated hit blocks are at most
  :data:`LOCAL_MAX_BLOCKS`: the driver reads the query's blocks with
  pyarrow and runs the same kernels in-process; the already-sorted top-k
  comes back as a :class:`~docs_indexer_spark.session.LazyFrame` over an
  Arrow table, whose ``collect()`` the driver answers — no Spark job and
  no JVM call at all;
- distributed, above it: executors scan + score their buckets and
  TakeOrderedAndProject merges k rows to the driver.  Every query kind
  runs its scoring kernel as its ONE Python stage and starts no Spark
  job while planning.
"""

from __future__ import annotations

import math
import os
import threading
from bisect import bisect_left, bisect_right
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docs_indexer_spark.config import DEFAULT_TOP_K, BM25Params
from docs_indexer_spark.functions.analysis import analyze_text
from docs_indexer_spark.functions.xxh import spark_xxhash64_str
from docs_indexer_spark.operators import bm25, wand
from docs_indexer_spark.operators.bm25 import TOPK_SCHEMA
from docs_indexer_spark.session import local_frame
from docs_indexer_spark.sources.catalog import SnapshotCatalog

# resolved string filters one reader keeps (doc-id array, plus its
# broadcast once a distributed route has needed one; ≤
# max_driver_filter_docs ids).  The memo only pays for traffic that
# repeats a filter string; 8 is a memory bound (8 × 4 MB of ids at the
# default max_driver_filter_docs), not a measured working set
FILTER_MEMO_SIZE = 8

# a query whose estimated hit blocks (IndexReader._est_blocks) are at
# most this many runs on the driver instead of as Spark jobs.  Fitted by
# a sweep of both routes on 10,000- and 200,000-doc indexes, 4-core
# machine, local[3] (docs/DESIGN.md "Serving cost model"): the local
# route then cost ~0.2 s plus ~0.5 µs per posting and won at every
# measured size, by 2× at 13k blocks and 1.1× at 67k against the
# distributed exact scorer, whose 3 cores catch up near ~100k blocks.
# Its fixed cost is now ~5 ms for a scored query on the `serve` index
# (no Spark relation, result frame or collect crosses into the JVM;
# BENCH/local_route_layers_change.json); the per-posting cost, which
# sets the crossover, is unchanged and the cap is not refitted.  The
# cap sits where local was still ~1.6× faster, and it bounds a local
# query's driver memory at this many times the largest block's bytes
LOCAL_MAX_BLOCKS = 32768

PHRASE_SCHEMA = "doc_id long, n_occurrences int, first_pos int"


def _local_path(uri: str) -> str:
    """A file URI from ``DataFrame.inputFiles()`` as a path pyarrow
    opens; other schemes pass through."""
    from urllib.parse import unquote, urlparse

    u = urlparse(uri)
    return unquote(u.path) if u.scheme == "file" else uri


class DeletionIndex:
    """A generation's SymSpell ``deletions.parquet`` (variant → term,
    sorted and range-partitioned by variant), probed on the driver.

    Every file's footer and every row group's variant [min, max] are
    parsed once, here: the reader pins its generation, and a published
    generation never changes.  A probe then reads only the row groups
    whose range can hold one of its variants (all of a row group without
    statistics), each file through its own handle, so concurrent queries
    share the parsed footers safely."""

    def __init__(self, path: str):
        self.files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        # (file, its footer, row group, variant min, variant max)
        self._groups = []
        for f in self.files:
            md = pq.read_metadata(f)
            col = md.schema.names.index("variant")
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(col).statistics
                lo, hi = (
                    (st.min, st.max) if st is not None and st.has_min_max
                    else (None, None)
                )
                self._groups.append((f, md, i, lo, hi))

    def terms(self, variants: list[str]) -> list[str]:
        """The term of every row whose variant is one of ``variants``."""
        vs = sorted(set(variants))
        hits: dict[str, tuple] = {}
        for f, md, i, lo, hi in self._groups:
            if lo is None or bisect_left(vs, lo) < bisect_right(vs, hi):
                hits.setdefault(f, (md, []))[1].append(i)
        want = pa.array(vs, pa.string())
        out: list[str] = []
        for f, (md, groups) in hits.items():
            t = pq.ParquetFile(f, metadata=md).read_row_groups(
                groups, columns=["variant", "term"]
            )
            out += t.column("term").filter(
                pc.is_in(t.column("variant"), value_set=want)
            ).to_pylist()
        return out


class IndexReader:
    def __init__(self, spark: SparkSession, catalog: SnapshotCatalog):
        self.spark = spark
        self.catalog = catalog
        meta = catalog.current_generation("index")
        if meta is None:
            raise FileNotFoundError("no published index generation")
        self.meta = meta
        # snapshot isolation: resolve CURRENT exactly once and pin the
        # generation PATH — every subsequent read (blocks, df_stats, doc
        # store, per-query manifest pruning) goes through this path, so a
        # writer republishing mid-lifetime can never mix another
        # generation's blocks with this reader's pinned idf/term stats.
        # The path is DERIVED from the meta dict already in hand (one
        # pointer read): re-reading CURRENT here could pair gen A's meta
        # with gen B's path if a republish landed between the two reads.
        self.gen_path = catalog.path_for_generation("index", meta["generation"])
        self.analyzer = meta["metrics"].get("analyzer", "english")
        self.n_docs = int(meta["metrics"]["n_docs"])
        self.blocks = catalog.read_at(spark, self.gen_path, "blocks.parquet")
        # the vocabulary's (term_id, df), sorted by term_id: 16 B per term
        # on the driver, read once with pyarrow.  Query terms resolve by
        # searchsorted on their driver-side xxhash64 ids, so idf and
        # block-count estimates cost no Spark job per query.
        tbl = pq.read_table(
            os.path.join(self.gen_path, "df_stats.parquet"),
            columns=["term_id", "df"],
        )
        ids = tbl.column("term_id").to_numpy().astype(np.int64)
        order = np.argsort(ids, kind="stable")
        self._term_ids = ids[order]
        self._term_dfs = tbl.column("df").to_numpy().astype(np.int64)[order]
        # the SymSpell deletion index (variant → term); None for
        # generations published before it existed
        dels = os.path.join(self.gen_path, "deletions.parquet")
        self._deletions = (
            DeletionIndex(dels) if os.path.exists(dels) else None
        )
        self._lock = threading.Lock()
        self._df_stats: DataFrame | None = None
        # where string → [sorted doc ids, their broadcast or None]; the
        # broadcast is made the first time a distributed route needs it
        self._filters: "OrderedDict[str, list]" = OrderedDict()
        # per-bucket doc-id bounds, lazily cached once per generation —
        # lets wand_topk's auto-split decide and slice with NO per-query
        # block-metadata job (see _bucket_bounds)
        self._bounds_cache: "list[tuple[int, int, int]] | None" = None

    @property
    def df_stats(self) -> DataFrame:
        """The pinned (term, term_id, df) relation for the STRING-keyed
        paths (prefix expansion, highlight stems, more_like_this, fuzzy on
        generations without a deletion index): persisted on first use,
        released by :meth:`close`."""
        with self._lock:
            if self._df_stats is None:
                self._df_stats = self.catalog.read_at(
                    self.spark, self.gen_path, "df_stats.parquet"
                ).persist()
            return self._df_stats

    def close(self) -> None:
        """Release what the reader owns: the persisted df_stats and every
        memoized filter broadcast."""
        with self._lock:
            memo = list(self._filters.values())
            self._filters.clear()
            rel, self._df_stats = self._df_stats, None
        for _, bc in memo:
            if bc is not None:
                bc.destroy()
        if rel is not None:
            rel.unpersist()

    def _blocks_for(self, term_ids: list[int]) -> DataFrame:
        """Per-query block relation, manifest-pruned to the files whose
        term_id range can contain a query term (Iceberg manifest-level
        pruning against the PINNED generation — see __init__; generations
        published before manifests fall back to the full relation — the
        query's own IN-filter stays correct either way).  A corrupt or
        torn ``_MANIFEST.json`` (json.JSONDecodeError is a ValueError)
        also falls back to the unpruned — still correct — relation
        rather than failing the query."""
        try:
            return self.catalog.read_pruned_at(
                self.spark, self.gen_path, "blocks.parquet", "term_id",
                [int(t) for t in term_ids],
            )
        except (FileNotFoundError, ValueError):
            return self.blocks

    def _local_blocks(self, term_ids, columns: list[str]) -> pa.Table:
        """The hit blocks of ``term_ids`` read on the driver: the files of
        the same manifest-pruned relation the distributed scan reads
        (:meth:`_blocks_for`, so both routes read identical inputs; its
        ``inputFiles()`` come from the manifest and the Spark relation is
        never built), with ``term_id IN`` pushed into pyarrow's row-group
        pruning."""
        ids = sorted(int(t) for t in term_ids)
        files = [_local_path(f) for f in self._blocks_for(ids).inputFiles()]
        return ds.dataset(files, format="parquet").to_table(
            columns=columns, filter=ds.field("term_id").isin(ids)
        )

    def _est_blocks(self, dfs) -> int:
        """Hit-block estimate for terms with document frequencies
        ``dfs``: Σ ceil(df/B) undercounts only when a term's postings
        spread over many buckets, so pad by one bucket's worth of blocks
        per term."""
        bsz = int(self.meta["metrics"].get("block_size") or 128)
        n_buckets = max(1, len(self._bucket_bounds()))
        return sum(-(-int(df) // bsz) + n_buckets for df in dfs)

    def _route(
        self, dfs, where=None, max_driver_docs: int = 500_000,
        split: "int | str" = "auto",
    ):
        """Where a scored query over terms with document frequencies
        ``dfs`` (term_id → df) runs: ``(local, allowed, est)``.

        It runs on the driver when its estimated hit blocks ``est`` are
        at most :data:`LOCAL_MAX_BLOCKS`, its filter (if any) resolved to
        a driver-side id array, and the caller asked for no split > 1;
        ``allowed`` is then that sorted array or None.  Otherwise
        ``allowed`` is the distributed scorers' filter argument
        (:meth:`_filter_arg`); ``est`` is None under an explicit split."""
        est = None
        if not (isinstance(split, int) and split > 1):
            est = self._est_blocks(dfs.values())
        if est is None or est > LOCAL_MAX_BLOCKS:
            return False, self._filter_arg(where, max_driver_docs), est
        ids, rel = self._resolve_filter(where, max_driver_docs)
        if rel is not None:
            return False, rel, est
        return True, ids, est

    def _local_topk(
        self, idf: dict[int, float], k: int, allowed=None,
        n_required: int | None = None, after=None, exclude: int | None = None,
    ) -> DataFrame:
        """The driver-local route of every scored kind: the exact
        scorer's kernel :func:`bm25.blocks_topk` (filter block pruning,
        sum/count, AND, ``search_after`` and top-k) over all of the
        query's blocks."""
        if not idf or (allowed is not None and not len(allowed)):
            return local_frame(self.spark, TOPK_SCHEMA)
        doc_ids, scores = bm25.blocks_topk(
            self._local_blocks(idf, bm25.kernel_columns(allowed is not None)),
            idf, k, allowed=allowed,
            n_required=n_required, after=after, exclude=exclude,
        )
        return local_frame(
            self.spark, TOPK_SCHEMA, {"doc_id": doc_ids, "score": scores}
        )

    def _dfs(self, term_ids) -> dict[int, int]:
        """term_id → df for the ids present in the vocabulary (an
        unindexed term gets no entry)."""
        ids = np.unique(np.asarray(list(term_ids), dtype=np.int64))
        if not len(ids) or not len(self._term_ids):
            return {}
        i = np.searchsorted(self._term_ids, ids)
        i[i == len(self._term_ids)] = len(self._term_ids) - 1
        hit = self._term_ids[i] == ids
        return dict(zip(ids[hit].tolist(), self._term_dfs[i[hit]].tolist()))

    def _idf_of(self, df: int) -> float:
        n = self.n_docs
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _idf_df(self, terms: list[str]):
        """term strings → ({term_id: idf}, {term_id: df}) from the
        driver-side term table.  The df map rides along so callers can
        estimate block counts without a metadata job."""
        dfs = self._dfs(spark_xxhash64_str(t) for t in terms)
        return {t: self._idf_of(df) for t, df in dfs.items()}, dfs

    def _idf(self, terms: list[str]) -> dict[int, float]:
        return self._idf_df(terms)[0]

    def _bucket_bounds(self) -> "list[tuple[int, int, int]]":
        """(bucket, min first_doc_id, max last_doc_id) over the WHOLE
        generation, computed once and cached — the auto-split serving
        fast path slices against these instead of aggregating the
        query's hit blocks every request (one block-metadata job per
        reader lifetime instead of per query)."""
        if self._bounds_cache is None:
            rows = (
                self.blocks.groupBy("bucket")
                .agg(
                    F.min("first_doc_id").alias("lo"),
                    F.max("last_doc_id").alias("hi"),
                )
                .collect()
            )
            self._bounds_cache = [
                (int(r["bucket"]), int(r["lo"]), int(r["hi"])) for r in rows
            ]
        return self._bounds_cache

    def docs_store(self) -> DataFrame:
        """The pinned generation's document store (rendering + keyword/
        date fields) — the relation ``where`` filters evaluate against."""
        return self.catalog.read_at(self.spark, self.gen_path, "docs.parquet")

    def _resolve_filter(
        self, where, max_driver_docs: int
    ):
        """Evaluate a search filter against the pinned doc store.

        Returns ``(allowed, allowed_df)`` — exactly one non-None — or
        ``(None, None)`` for no filter.  The predicate (a Column or a
        SQL string) is PUSHED DOWN into the doc-store parquet scan
        (keyword/date fields are plain columns, so min/max row-group
        pruning applies).  A selective filter (≤ ``max_driver_docs``
        hits) collects to a sorted doc_id array the scorers use as an
        in-kernel bitset — the OpenSearch filter-context shape; a broad
        filter stays a distributed relation for a semi-join, since low
        selectivity means near-exhaustive scoring anyway.

        A selective STRING filter is memoized for the reader's pinned
        generation: its sorted ids, so a repeated filter costs no Spark
        job, and the ids' one broadcast once a distributed route needs it
        (:meth:`_shipped`; the driver-local route never does).  The memo
        is an LRU of :data:`FILTER_MEMO_SIZE` entries shared by
        concurrent queries.  Eviction only unpersists a broadcast, so a
        query built before its filter was evicted still runs;
        :meth:`close` destroys the memoized ones, so run filtered results
        before closing the reader.  Column and DataFrame predicates
        resolve per query."""
        if where is None:
            return None, None
        if isinstance(where, str):
            with self._lock:
                memo = self._filters.get(where)
                if memo is not None:
                    self._filters.move_to_end(where)
            if memo is not None and len(memo[0]) <= max_driver_docs:
                return memo[0], None
        if isinstance(where, DataFrame):
            # pre-resolved doc_id relation (search_hybrid resolves the
            # predicate ONCE and shares it across arms)
            sel = where.select("doc_id")
        else:
            pred = F.expr(where) if isinstance(where, str) else where
            sel = self.docs_store().filter(pred).select("doc_id")
        # ONE scan decides selectivity AND yields the ids: limit(max+1)
        # stops early on broad filters instead of counting the whole
        # qualifying set and then scanning it a second time to collect
        pdf = sel.limit(max_driver_docs + 1).toPandas()
        if len(pdf) > max_driver_docs:
            return None, sel
        ids = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64))
        if not isinstance(where, str):
            return ids, None
        return self._memoize_filter(where, ids), None

    def _memoize_filter(self, where: str, ids: np.ndarray) -> np.ndarray:
        """Insert a resolved string filter into the LRU memo; returns its
        ids (a concurrent query's, if that one got there first)."""
        evicted = []
        with self._lock:
            memo = self._filters.get(where)
            if memo is not None:
                self._filters.move_to_end(where)
                return memo[0]
            self._filters[where] = [ids, None]
            while len(self._filters) > FILTER_MEMO_SIZE:
                evicted.append(self._filters.popitem(last=False)[1][1])
        # an evicted broadcast may still sit in the closure of a query
        # built but not yet run: only drop the executors' copies (a later
        # task re-fetches it) and leave the rest to Spark's ContextCleaner
        # once no DataFrame holds it
        for old in evicted:
            if old is not None:
                old.unpersist()
        return ids

    def _shipped(self, where, ids):
        """A resolved selective filter as the distributed scorers take it:
        a memoized string filter's ONE broadcast, made the first time a
        distributed route needs it; any other id array as it is (the
        scorer broadcasts it per query), and an empty one too."""
        if ids is None or not len(ids) or not isinstance(where, str):
            return ids
        with self._lock:
            memo = self._filters.get(where)
            if memo is None:  # evicted since it resolved
                return ids
            if memo[1] is not None:
                return memo[1]
        bc = self.spark.sparkContext.broadcast(memo[0])
        with self._lock:
            if memo[1] is None and self._filters.get(where) is memo:
                memo[1] = bc
                return bc
            winner = memo[1]
        # a concurrent query shipped it first, or it was evicted: ours
        # was never handed out
        bc.destroy()
        return ids if winner is None else winner

    def search(
        self,
        query: str,
        k: int = DEFAULT_TOP_K,
        exact: bool = False,
        operator: str = "or",
        where=None,
        max_driver_filter_docs: int = 500_000,
        split: int | str = "auto",
        search_after: "tuple[float, int] | None" = None,
    ) -> DataFrame:
        """``operator="and"`` = OpenSearch operator:and (every query term
        must match) — routed through the exact scorer, whose per-doc
        partial count gives the AND filter for free; WAND's upper-bound
        pruning is an OR-semantics optimization.

        ``where`` composes an exact-match / range filter over the doc
        store's keyword and date fields WITH relevance scoring — the
        OpenSearch ``bool: {must: match, filter: [...]}`` request shape
        (the reference's keyword ``type``/``breadcrumb_*`` and ``date``
        fields exist precisely for this: mappings/hugo.json:9-53).  A
        Column or SQL string, e.g. ``"source = 'web' AND n_chars >= 500"``.
        Filtered docs can never enter the top-k (filter-then-score, not
        post-filter): selective filters become an in-kernel bitset with
        metadata block pruning, broad filters a distributed semi-join —
        see :meth:`_resolve_filter`.

        ``split`` > 1 slices each index bucket's doc range into that
        many independent WAND tasks — serving-side parallelism when the
        build's bucket count is below the cluster's core count (rank-
        identical; see wand_topk).  The default ``"auto"`` sizes the
        slicing from block metadata: 1 on small/selective queries (plan
        unchanged), cores//n_buckets (≤8) on block-heavy ones — at 10M
        docs this took head-term p95 from 5.7 s to 2.7 s on 32 cores.

        ``search_after=(score, doc_id)`` — cursor pagination under the
        ``[_score desc, doc_id asc]`` sort (OpenSearch ``search_after``):
        pass the previous page's last sort key to get the next ``k``.
        Served THROUGH WAND: an at-or-before-cursor doc is simply not
        qualifying at heap insertion, so θ (the k-th qualifying score)
        stays a valid pruning threshold and every page costs one WAND
        pass — a page-1+page-2 pair measured 22.9 s → 4.7 s p50 at 10M
        docs vs the exact route (BENCH/serve_10m_filtered_r5.json).
        Composes with ``where``/``operator``/``exact`` unchanged."""
        terms = analyze_text(query, self.analyzer)
        idf, dfs = self._idf_df(sorted(set(terms)))
        ids = sorted(idf)
        if operator == "and" and len(ids) < len(set(terms)):
            # a term absent from the index can never AND-match
            return local_frame(self.spark, TOPK_SCHEMA)
        local, allowed, est = self._route(
            dfs, where, max_driver_filter_docs, split
        )
        if local:
            return self._local_topk(
                idf, k, allowed, after=search_after,
                n_required=len(ids) if operator == "and" else None,
            )
        blocks = self._blocks_for(ids)
        if operator == "and" or exact or isinstance(allowed, DataFrame):
            # a broad filter takes exhaustive scoring + semi-join over
            # WAND (upper-bound pruning buys little when most docs are
            # eligible, and the filter relation must stay distributed)
            return bm25.score_from_blocks(
                blocks, idf, ids, k=k, require_all=operator == "and",
                allowed=allowed, after=search_after,
            )
        # a filter does not shrink the block estimate: every hit block
        # still ships to the bucket kernels, which prune it there.  A
        # perf-only decision either way (split never changes results).
        fast = split == "auto"
        return wand.wand_topk(
            blocks, idf, ids, k=k, allowed=allowed, split=split,
            after=search_after,
            est_n_blocks=est,
            bounds_rows=self._bucket_bounds() if fast else None,
        )

    def _filter_arg(self, where, max_driver_docs: int = 500_000):
        """``where`` → the ``allowed`` argument for the distributed block
        scorers (bitset array or its memoized broadcast if selective,
        doc_id relation otherwise, None if unfiltered)."""
        allowed, df = self._resolve_filter(where, max_driver_docs)
        return self._shipped(where, allowed) if df is None else df

    def search_prefix(
        self,
        prefix: str,
        k: int = DEFAULT_TOP_K,
        max_expansions: int = 50,
        where=None,
    ) -> DataFrame:
        """Prefix query (scoring_boolean rewrite): expand over the
        vocabulary, BM25-sum the expansion through the block index.  The
        expansion is capped to ``max_expansions`` terms by descending df
        (Lucene's multi-term rewrite cap, default 50) BEFORE the collect
        — a one-character prefix on a 10⁸-term web vocabulary must never
        flood the driver with millions of vocabulary rows."""
        prefix = prefix.lower().rstrip("*")
        rows = (
            self.df_stats.filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        dfs = {int(r["term_id"]): int(r["df"]) for r in rows}
        return self._scored(dfs, k, where)

    def _scored(self, dfs: dict[int, int], k: int, where=None) -> DataFrame:
        """Exact BM25 top-k of the OR of the terms with document
        frequencies ``dfs`` (term_id → df), on the route :meth:`_route`
        picks."""
        idf = {t: self._idf_of(df) for t, df in dfs.items()}
        local, allowed, _ = self._route(dfs, where)
        if local:
            return self._local_topk(idf, k, allowed)
        ids = sorted(idf)
        return bm25.score_from_blocks(
            self._blocks_for(ids), idf, ids, k=k, allowed=allowed
        )

    def _fuzzy_candidates(
        self, terms: list[str], fuzziness: int
    ) -> list[tuple[str, int, int]]:
        """(term, term_id, df) of the vocabulary terms that MAY sit
        within ``fuzziness`` Damerau-OSA of some query term — O(
        neighborhood) rows, never the vocabulary; the caller OSA-verifies.

        With the published SymSpell deletion index, the query terms'
        deletion variants are looked up in ``deletions.parquet`` with
        pyarrow, reading only the row groups whose variant range can hold
        one (:class:`DeletionIndex`), and the candidates' dfs come from
        the driver-side term table: no Spark job.  Generations published
        before the deletion index fall back to a df_stats scan bounded by
        threshold-Levenshtein ≤ 2·fuzziness (lev ≤ 2·OSA, so the bound is
        a superset)."""
        if self._deletions is None:
            cond = None
            for t in terms:
                c = (
                    F.abs(F.length("term") - len(t)) <= 2 * fuzziness
                ) & (
                    F.levenshtein(F.col("term"), F.lit(t), 2 * fuzziness) >= 0
                )
                cond = c if cond is None else (cond | c)
            return [
                (r["term"], int(r["term_id"]), int(r["df"]))
                for r in self.df_stats.filter(cond).collect()
            ]
        from docs_indexer_spark.operators.suggest import _deletion_variants

        variants = sorted(
            {v for t in terms for v in _deletion_variants(t, fuzziness)}
        )
        words = sorted(set(self._deletions.terms(variants)))
        ids = [spark_xxhash64_str(w) for w in words]
        dfs = self._dfs(ids)
        return [(w, t, dfs[t]) for w, t in zip(words, ids) if t in dfs]

    def search_fuzzy(
        self,
        query: str,
        k: int = DEFAULT_TOP_K,
        fuzziness: int = 1,
        max_expansions: int = 50,
        where=None,
    ) -> DataFrame:
        """Fuzzy match (OpenSearch ``fuzziness`` with the default
        ``transpositions: true``, scoring_boolean rewrite): each analyzed
        query term expands to the vocabulary terms within ``fuzziness``
        DAMERAU-OSA edits — a transposition ("spakr" → "spark") counts as
        ONE edit, matching Lucene's FuzzyQuery automaton, where plain
        Levenshtein would miss it.

        Serving shape: query deletion variants probe the published
        SymSpell ``deletions.parquet`` driver-side (candidate superset, no
        Spark job, no vocabulary scan — :meth:`_fuzzy_candidates`), exact
        OSA verifies the candidates, the surviving expansion is capped per
        query term to ``max_expansions`` by descending df (Lucene default
        50), and the union BM25-sums through the block index."""
        from docs_indexer_spark.functions.fuzzy import osa_distance

        terms = sorted(set(analyze_text(query, self.analyzer)))
        if not terms:
            return local_frame(self.spark, TOPK_SCHEMA)
        cands = self._fuzzy_candidates(terms, fuzziness)
        dfs: dict[int, int] = {}
        for t in terms:
            verified = [
                c for c in cands
                if osa_distance(c[0], t, cap=fuzziness) <= fuzziness
            ]
            verified.sort(key=lambda c: (-c[2], c[0]))
            for _, tid, df in verified[:max_expansions]:
                dfs[tid] = df
        return self._scored(dfs, k, where)

    def search_phrase(
        self, query: str, k: int = DEFAULT_TOP_K, where=None
    ) -> DataFrame:
        """Exact-phrase search over a POSITIONAL index (built with
        positions=True; the reference mapping's term_vector
        with_positions_offsets makes OpenSearch match_phrase possible —
        this is the Spark-native mirror).

        The query keeps Lucene position increments: a stopword removed by
        the analyzer still advances the expected gap, so "merge the sort"
        matches documents where the surviving terms sit two apart.
        Results carry BM25-independent phrase stats (n_occurrences,
        first_pos), ranked by occurrence count then doc_id.
        """
        from docs_indexer_spark.functions.analysis import analyze_with_positions
        from docs_indexer_spark.operators.phrase import (
            POSITION_COLUMNS,
            phrase_match_blocks,
            phrase_topk,
            rarest_lead,
        )

        if not self.meta["metrics"].get("positions"):
            raise ValueError(
                "index was not built with positions=True; "
                "phrase queries need the positional stream"
            )
        terms_pos = analyze_with_positions(query, self.analyzer)
        # term ids and dfs from the driver-side term table: no Spark job
        # before the decode, and real document frequencies for the
        # rarest-lead decision
        term_ids = [spark_xxhash64_str(t) for t, _ in terms_pos]
        offsets = [p for _, p in terms_pos]
        dfs = self._dfs(term_ids)
        if not terms_pos or any(dfs.get(t, 0) <= 0 for t in term_ids):
            # a phrase term absent from the index can never match
            return local_frame(self.spark, PHRASE_SCHEMA)
        bsz = self.meta["metrics"].get("block_size")
        est = self._est_blocks(dfs.values())
        if where is None and est <= LOCAL_MAX_BLOCKS:
            return local_frame(self.spark, PHRASE_SCHEMA, phrase_topk(
                self._local_blocks(dfs, POSITION_COLUMNS), term_ids,
                offsets, k, lead=rarest_lead(term_ids, dfs, bsz),
            ))
        res = phrase_match_blocks(
            self._blocks_for(term_ids), term_ids, offsets=offsets,
            term_dfs=dfs, block_size=bsz,
        )
        if where is not None:
            # filter-then-rank: phrase results are doc-sparse already,
            # so a distributed left-semi on doc_id (never a collected
            # bitset) is the right shape at any filter selectivity
            pred = F.expr(where) if isinstance(where, str) else where
            res = res.join(
                self.docs_store().filter(pred).select("doc_id"),
                "doc_id", "left_semi",
            )
        return res.orderBy(F.desc("n_occurrences"), F.asc("doc_id")).limit(k)

    def highlight_terms(self, query: str) -> list[str]:
        """Surface-form term set the highlighter should mark for ``query``
        — OpenSearch's plain-highlighter semantics with STEM EXPANSION:

        - only raw query tokens that SURVIVE the analyzer count (a
          stopword is never highlighted);
        - the published surface dictionary maps each query stem back to
          every corpus token form that analyzes to it, so highlighting is
          equivalent to what index-time offsets would mark (every indexed
          occurrence of a token whose stem matches a query stem) — the
          equivalence is pinned by tests/test_highlight_offsets.py.
        """
        from docs_indexer_spark.functions.analysis import analyze_text, tokenize

        terms = sorted(
            {t for t in tokenize(query) if analyze_text(t, self.analyzer)}
        )
        stems = sorted(set(analyze_text(query, self.analyzer)))
        try:  # generations published before the surfaces table lack it
            surf = self.catalog.read_at(
                self.spark, self.gen_path, "surfaces.parquet"
            )
        except FileNotFoundError:
            surf = None
        if surf is not None:
            tid_rows = self.df_stats.filter(F.col("term").isin(stems)).select(
                "term_id"
            )
            expanded = [
                r["raw"]
                for r in surf.join(F.broadcast(tid_rows), "term_id").collect()
            ]
            terms = sorted(set(terms) | set(expanded))
        return terms

    def more_like_this(
        self,
        doc_id: int,
        docs: DataFrame,
        k: int = DEFAULT_TOP_K,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """OpenSearch more_like_this: re-analyze the seed document (the
        plain-highlighter strategy — ``docs`` is the corpus relation
        carrying text; only the ONE seed row is fetched), keep its top
        tf·idf terms, BM25 the block index with them, exclude the seed.

        Term-selection knobs mirror the OpenSearch MLT defaults so
        low-signal terms never enter the query set on real corpora:
        ``max_query_terms`` (25) caps the selected terms,
        ``min_term_freq`` (2) drops terms the SEED mentions fewer times,
        ``min_doc_freq`` (5) drops corpus-rare noise terms."""
        from collections import Counter

        from docs_indexer_spark.functions.analysis import analyze_text

        row = (
            docs.filter(F.col(id_col) == doc_id).select(text_col).first()
        )
        if row is None or not row[0]:
            return local_frame(self.spark, TOPK_SCHEMA)
        tf = Counter(analyze_text(row[0], self.analyzer))
        tf = Counter(
            {t: c for t, c in tf.items() if c >= min_term_freq}
        )
        if not tf:
            return local_frame(self.spark, TOPK_SCHEMA)
        stats = self.df_stats.filter(
            F.col("term").isin(sorted(tf))
            & (F.col("df") >= min_doc_freq)
        ).collect()
        weighted = sorted(
            (
                (
                    -tf[r["term"]] * self._idf_of(r["df"]),
                    r["term"],
                    int(r["term_id"]),
                    r["df"],
                )
                for r in stats
            ),
        )[:max_query_terms]
        dfs = {tid: df for _, _, tid, df in weighted}
        idf = {t: self._idf_of(df) for t, df in dfs.items()}
        # the seed drops inside the numpy top-k on both routes: a filter
        # on top of the local frame would start Spark jobs again
        if self._route(dfs)[0]:
            return self._local_topk(idf, k, exclude=doc_id)
        ids = sorted(idf)
        return bm25.score_from_blocks(
            self._blocks_for(ids), idf, ids, k=k, exclude=doc_id
        )

    def search_with_docs(
        self, query: str, k: int = DEFAULT_TOP_K, where=None
    ) -> DataFrame:
        top = self.search(query, k=k, where=where)
        docs = self.docs_store()
        return top.join(docs, "doc_id", "left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def search_hybrid(
        self,
        query: str,
        query_vec,
        ivf,
        k: int = DEFAULT_TOP_K,
        k_arm: int = 20,
        c: int = 60,
        nprobe: int = 4,
        where=None,
    ) -> DataFrame:
        """Hybrid text+vector search (the OpenSearch hybrid query with
        the RRF processor): a BM25 arm through this inverted index and
        an ANN arm through a persisted :class:`IvfIndex`, each
        contributing its top ``k_arm``, fused by reciprocal rank —
        Σ 1/(c+rank), c=60 (Cormack et al. 2009).  ``where`` filters
        BOTH arms before their top-k cuts (text: bitset/semi-join as in
        :meth:`search`; vector: left-semi on the probed inverted lists),
        so the fused k are all filter-qualifying.  Fusion itself is
        rank-only math on two k_arm-row relations — nothing corpus-
        sized happens after the arms."""
        from docs_indexer_spark.operators.similarity import rrf_fuse

        allowed = None
        text_where = where
        if where is not None:
            # resolve the predicate ONCE; both arms share the
            # materialized doc_id set (localCheckpoint = no cache leak)
            pred = F.expr(where) if isinstance(where, str) else where
            flt = (
                self.docs_store().filter(pred).select("doc_id")
                .localCheckpoint()
            )
            text_where = flt
            allowed = flt.select(F.col("doc_id").alias("vec_id"))
        text = self.search(query, k=k_arm, where=text_where).select(
            "doc_id", "score"
        )
        vec_top = ivf.topk(query_vec, k=k_arm, nprobe=nprobe, allowed=allowed)
        score_col = vec_top.columns[1]  # "cosine" (IvfIndex) / "adc" (IvfPq)
        vec = vec_top.select(
            F.col("vec_id").alias("doc_id"), F.col(score_col).alias("score")
        )
        return rrf_fuse([text, vec], k=k, c=c)

    def search_with_snippets(
        self,
        query: str,
        docs: DataFrame,
        k: int = DEFAULT_TOP_K,
        text_col: str = "text",
        id_col: str = "doc_id",
        width: int = 60,
        where=None,
    ) -> DataFrame:
        """Top-k + highlighted first fragments — OpenSearch's *plain*
        highlighter semantics (re-analyze the stored text at query time;
        no offsets need to live in the index), upgraded with STEM
        EXPANSION: the published surface-form dictionary maps each query
        stem back to every raw token form that analyzes to it, so a query
        "running" highlights "run"/"runs"/"running" — what index-time
        offsets would give, without per-token offset storage.  ``docs``
        is the corpus relation carrying the text; the join touches only
        the k hits."""
        from docs_indexer_spark.functions.highlight import (
            highlight_col,
            snippet_col,
        )

        terms = self.highlight_terms(query)
        top = self.search(query, k=k, where=where)
        joined = top.join(
            docs.select(F.col(id_col).alias("doc_id"), text_col),
            "doc_id",
            "left",
        )
        return joined.select(
            "doc_id",
            "score",
            snippet_col(text_col, terms, width=width).alias("snippet"),
            highlight_col(
                snippet_col(text_col, terms, width=width), terms
            ).alias("snippet_html"),
        ).orderBy(F.desc("score"), F.asc("doc_id"))

    def search_with_fragments(
        self,
        query: str,
        docs: DataFrame,
        k: int = DEFAULT_TOP_K,
        text_col: str = "text",
        id_col: str = "doc_id",
        fragment_size: int = 100,
        num_fragments: int = 5,
        where=None,
    ) -> DataFrame:
        """Top-k + MULTI-fragment highlighting — the full OpenSearch
        plain-highlighter contract (``number_of_fragments``, default 5,
        ``order: score``): each hit carries up to ``num_fragments``
        highlighted fragments ranked by match density, not just the
        first match window.  Stem expansion as in
        :meth:`search_with_snippets`; composable with a ``where``
        filter."""
        from docs_indexer_spark.functions.highlight import fragments_col

        terms = self.highlight_terms(query)
        top = self.search(query, k=k, where=where)
        joined = top.join(
            docs.select(F.col(id_col).alias("doc_id"), text_col),
            "doc_id",
            "left",
        )
        frs = fragments_col(
            text_col, terms,
            fragment_size=fragment_size, num_fragments=num_fragments,
        )
        pat = None
        if terms:
            from docs_indexer_spark.functions.highlight import _pattern

            pat = _pattern(terms)
        return joined.select(
            "doc_id",
            "score",
            F.transform(
                frs,
                lambda s: F.regexp_replace(
                    s["fragment"], F.lit(pat), "<em>$1</em>"
                ) if pat else s["fragment"],
            ).alias("fragments"),
        ).orderBy(F.desc("score"), F.asc("doc_id"))
