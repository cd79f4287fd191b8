"""SPIMI-style compressed posting-block construction with a salted,
doc-range-bucketed merge (SURVEY.md §2 C1 + C2).

Input: the encode rows of ``postings.token_relations`` — (term_id,
doc_id, dl, tf) postings, or (term_id, doc_id, dl, pos) occurrence rows
for a positional index — plus corpus statistics (:func:`index_stats`).
Output: the block index

    (term_id, bucket, block_seq, n_docs, first_doc_id, last_doc_id,
     max_tf, doc_ids_bin, [tfs_bin,] tf_norms_bin, [positions_bin,]
     max_score)

Skew story (the part the reference never had — it ran 1 OpenSearch shard,
/root/reference/common.py:6): a Zipf-head term like "the" may appear in a
large fraction of all documents.  A naive ``groupBy(term)`` would ship that
whole posting list to ONE task.  Instead the shuffle key is
``(term, bucket)`` where ``bucket = floor(doc_id / span)`` is a RANGE of
doc_id — the salt.  Consequences:

- the head term's postings split across up to ``n_buckets`` tasks — the
  merge-stage skew bound improves by that factor;
- within a bucket, blocks are doc_id-sorted; buckets are disjoint ordered
  doc_id ranges, so the per-term global order is simply
  ``(bucket, block_seq)`` — merging partial results is an ordered CONCAT of
  already-encoded blocks: no decode, no re-sort, no second shuffle;
- the serving kernels exploit the bucketing too: buckets partition the
  doc space, so a per-bucket exact-scorer or phrase kernel plus one
  global top-k merge is exact.

Execution shape: ``repartition(term_id, bucket)`` →
``sortWithinPartitions(term_id, bucket, doc_id[, pos])`` → ``mapInArrow``
with a carry-over between Arrow batches.  NOT
``groupBy().applyInPandas()`` — that materializes one pandas DataFrame per
(term, bucket) group, and with a 30k vocabulary × 32 buckets the ~1
ms/group protocol overhead dominates (measured 113 s for a 2000-doc
corpus).  The kernel sees whole Arrow batches and slices postings and
groups with numpy change-point detection — same output, ~none of the
per-group overhead.

Python appears only in the encode kernel (tf-norm and varint in numpy
inside the Arrow batch); idf and max_score are native Column math over
block rows.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from docs_indexer_spark.config import BLOCK_SIZE, BM25Params
from docs_indexer_spark.operators.compression import varint_encode_with_lengths
from docs_indexer_spark.operators.postings import idf_col

# Scoring reads ONLY doc_ids_bin + tf_norms_bin (bm25.py); raw
# tf values are redundant with the stored norm on the serving path, so
# the default block row does NOT carry a tfs_bin stream (−20-25% block
# bytes through the encode exchange and at rest).  Positional blocks DO
# keep it: per-posting position counts equal the tfs and segment the
# positions_bin stream on decode.  ``store_tf=True`` opts a tf-path build
# back in for debugging/inspection.
def _kernel_schema(positions: bool, store_tf: bool) -> str:
    """DDL schema of the encode kernel's block row: the published row
    with ``max_norm`` where ``max_score`` (= idf · max_norm, attached
    after the encode) goes.  Positional blocks add the opt-in positions
    stream (reference mapping term_vector with_positions_offsets,
    mappings/hugo.json:6,48,60): per posting, the delta-gapped varint
    positions (first absolute), segmented on decode by the tfs_bin counts
    they therefore retain."""
    tfs = ", tfs_bin binary" if positions or store_tf else ""
    return (
        "term_id long, bucket int, block_seq int, n_docs int, "
        "first_doc_id long, last_doc_id long, max_tf int, max_norm double, "
        f"doc_ids_bin binary{tfs}, tf_norms_bin binary"
        + (", positions_bin binary" if positions else "")
    )


def _encode_positions(pos_vals, pos_lens, bs, be):
    """Positions payload per block: the per-posting position lists arrive
    flattened (``pos_vals``) with per-posting counts (``pos_lens``); gaps
    are taken WITHIN each posting (absolute at each posting start), varint-
    encoded in one vectorized pass, and the single stream is sliced per
    block by posting-aligned byte offsets."""
    vals = pos_vals.astype(np.int64, copy=False)
    starts = np.concatenate(([0], np.cumsum(pos_lens)))[:-1].astype(np.int64)
    gaps = np.empty(len(vals), dtype=np.uint64)
    if len(vals):
        gaps[1:] = np.diff(vals).astype(np.uint64)
        gaps[starts] = vals[starts].astype(np.uint64)
    stream, vlens = varint_encode_with_lengths(gaps)
    pp_bytes = np.add.reduceat(vlens, starts) if len(vals) else np.zeros(0, np.int64)
    pb_off = np.concatenate(([0], np.cumsum(pp_bytes)))
    return [stream[pb_off[s]: pb_off[e]] for s, e in zip(bs, be)]


def _encode_runs(cols: dict, norm_dtype, pos=None, store_tf: bool = False) -> pa.RecordBatch:
    """Encode every (term, bucket) run of a sorted column batch into block
    rows.

    Fully vectorized: block boundaries via numpy change points, per-block
    max via ``np.maximum.reduceat`` (blocks tile the batch contiguously),
    and ONE varint pass over the whole batch whose stream is then sliced
    per block by byte offsets — per-block Python is reduced to bytes
    slicing.  (A per-run loop calling the encoder cost ~100 µs/run; with
    Zipf tails most runs are a handful of postings, and that overhead
    dominated the whole build stage.)

    Operates on raw numpy columns from mapInArrow — profiling showed the
    Arrow→pandas materialization in mapInPandas cost ~10× the actual
    encode work (~16 µs/row vs ~1.2 µs/row).
    """
    terms = cols["term_id"].astype(np.int64, copy=False)
    buckets = cols["bucket"].astype(np.int64, copy=False)
    ids = cols["doc_id"].astype(np.int64, copy=False)
    tfs = cols["tf"].astype(np.uint64, copy=False)
    norms = cols["tf_norm"].astype(norm_dtype, copy=False)
    # per-block MAX NORM only; max_score = idf * max_norm is attached at
    # block granularity after encoding (idf is constant per term, so
    # carrying it on every posting row through shuffle+sort+Arrow wasted
    # 8 B/row; IEEE multiply by a positive constant is monotone, so
    # idf*max(norm) is the exact same upper bound as max(idf*norm))
    fnorms = norms.astype(np.float64)
    n = len(terms)

    # run change points of the (term, bucket) key
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
    run_starts = np.flatnonzero(change)
    run_ends = np.empty_like(run_starts)
    run_ends[:-1] = run_starts[1:]
    run_ends[-1] = n

    # block boundaries: tile each run in BLOCK_SIZE steps
    bs_parts = [np.arange(s, e, BLOCK_SIZE) for s, e in zip(run_starts, run_ends)]
    bs = np.concatenate(bs_parts)
    seqs = np.concatenate([np.arange(len(p)) for p in bs_parts])
    nb_per_run = np.array([len(p) for p in bs_parts])
    be = np.minimum(bs + BLOCK_SIZE, np.repeat(run_ends, nb_per_run))

    # delta gaps with an absolute value at every block start (each block
    # is an independently decodable delta chain)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[1:] = np.diff(ids).astype(np.uint64)
    # absolute (wrapped-modular) value at every block start — bs[0] == 0,
    # so index 0 is covered here
    gaps[bs] = ids[bs].astype(np.uint64)

    id_stream, id_lens = varint_encode_with_lengths(gaps)
    id_off = np.concatenate(([0], np.cumsum(id_lens)))
    norm_bytes = np.ascontiguousarray(norms).tobytes()
    isz = norms.dtype.itemsize

    arrays = [
        pa.array(terms[bs], type=pa.int64()),
        pa.array(buckets[bs].astype(np.int32), type=pa.int32()),
        pa.array(seqs.astype(np.int32), type=pa.int32()),
        pa.array((be - bs).astype(np.int32), type=pa.int32()),
        pa.array(ids[bs], type=pa.int64()),
        pa.array(ids[be - 1], type=pa.int64()),
        pa.array(np.maximum.reduceat(tfs, bs).astype(np.int32), type=pa.int32()),
        pa.array(np.maximum.reduceat(fnorms, bs), type=pa.float64()),
        pa.array([id_stream[id_off[s]: id_off[e]] for s, e in zip(bs, be)], type=pa.binary()),
    ]
    names = [
        "term_id", "bucket", "block_seq", "n_docs", "first_doc_id",
        "last_doc_id", "max_tf", "max_norm", "doc_ids_bin",
    ]
    if pos is not None or store_tf:
        # per-posting tfs: positional blocks NEED them (they segment the
        # positions stream on decode); tf-path blocks carry them only on
        # explicit opt-in — scoring never reads them
        tf_stream, tf_lens = varint_encode_with_lengths(tfs)
        tf_off = np.concatenate(([0], np.cumsum(tf_lens)))
        arrays.append(
            pa.array([tf_stream[tf_off[s]: tf_off[e]] for s, e in zip(bs, be)], type=pa.binary())
        )
        names.append("tfs_bin")
    arrays.append(
        pa.array([norm_bytes[s * isz: e * isz] for s, e in zip(bs, be)], type=pa.binary())
    )
    names.append("tf_norms_bin")
    if pos is not None:
        arrays.append(
            pa.array(_encode_positions(pos[0], pos[1], bs, be), type=pa.binary())
        )
        names.append("positions_bin")
    return pa.RecordBatch.from_arrays(arrays, names=names)


class _RunCarry:
    """Chunk-list carry for run-spanning Arrow batches.

    Holding back the trailing (term_id, bucket) run between batches must
    NOT re-concatenate the accumulated run per batch: a head term's run
    can span thousands of batches (it is cf-sized with positions, up to
    10^8 postings per bucket at 10^12 docs without) and per-batch
    concatenation is O(run²) copying — measured 127 s vs ~4 s on a
    20k-doc Zipf corpus.  Chunks are appended to a list and concatenated
    exactly once, when the run completes.
    """

    def __init__(self):
        self.chunks: list[dict] = []
        self.key = None  # (term_id, bucket) of the pending run

    def _merged(self, head):
        parts = self.chunks + ([head] if head is not None else [])
        if len(parts) == 1:
            return parts[0]
        return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}

    def feed(self, cols: dict):
        """Consume one batch; yield the merged columns of every completed
        stretch (≥1 full runs)."""
        t, b = cols["term_id"], cols["bucket"]
        batch_key = (t[-1], b[-1])
        tail = (t == t[-1]) & (b == b[-1])
        split = len(t) - int(tail.sum())
        if split == 0:
            # whole batch is one run
            if self.chunks and self.key != batch_key:
                yield self._merged(None)
                self.chunks = []
            self.chunks.append(cols)
            self.key = batch_key
            return
        # the head closes the pending run (the encoder's change-point scan
        # handles the case where the head actually starts a NEW run)
        yield self._merged({k: v[:split] for k, v in cols.items()})
        self.chunks = [{k: v[split:] for k, v in cols.items()}]
        self.key = batch_key

    def flush(self):
        if self.chunks:
            yield self._merged(None)
            self.chunks = []


def _make_kernel(norm_dtype, k1: float, b: float, avgdl: float,
                 positions: bool, store_tf: bool):
    """The block-encode kernel over encode rows sorted by (term_id,
    bucket, doc_id[, pos]).

    A posting is a run of equal (term_id, bucket, doc_id) rows; its tf is
    the sum of the run's ``tf`` column — one row per posting when the
    rows were aggregated, one row per occurrence (count 1, so the run
    length) when they carry positions, in which case the run's ``pos``
    values ARE the posting's sorted positions.  The BM25 length norm is
    computed here in numpy, in the same IEEE operation order as
    ``tf / (tf + k1·(1 − b + b·dl/avgdl))`` in SQL."""

    def flush(cols: dict) -> pa.RecordBatch:
        t, bk, d = cols["term_id"], cols["bucket"], cols["doc_id"]
        n = len(t)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (t[1:] != t[:-1]) | (bk[1:] != bk[:-1]) | (d[1:] != d[:-1])
        ps = np.flatnonzero(change)
        if positions:
            tf = np.diff(np.append(ps, n)).astype(np.int64)
        else:
            tf = np.add.reduceat(cols["tf"].astype(np.int64), ps)
        dl = cols["dl"][ps].astype(np.float64)
        postings = {
            "term_id": t[ps],
            "bucket": bk[ps],
            "doc_id": d[ps],
            "tf": tf,
            "tf_norm": tf / (tf + k1 * (1.0 - b + b * dl / avgdl)),
        }
        pos = (cols["pos"].astype(np.int64), tf) if positions else None
        return _encode_runs(postings, norm_dtype, pos, store_tf=store_tf)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry = _RunCarry()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = {
                name: batch.column(j).to_numpy(zero_copy_only=False)
                for j, name in enumerate(batch.schema.names)
            }
            for mcols in carry.feed(cols):
                yield flush(mcols)
        for mcols in carry.flush():
            yield flush(mcols)

    return kernel


class IndexStats(NamedTuple):
    """Corpus statistics an encode needs, all from the doc store and the
    vocabulary dictionary — never from a pass over postings."""

    n_docs: int
    avgdl: float
    min_doc_id: int
    max_doc_id: int
    # upper bound on any term's df: max over term_id of Σcf (a doc
    # containing a term holds ≥1 of its occurrences; summing over the
    # raw forms a stem conflates keeps the bound under stemming)
    max_df: int


def index_stats(docs: DataFrame, dictionary: DataFrame,
                id_col: str = "doc_id") -> IndexStats:
    """:class:`IndexStats` in two small Spark jobs: a count/min/max over
    the documents (parquet footers answer it when ``docs`` is a stored
    doc table) and a vocabulary-sized aggregate over the dictionary —
    Σcf is the post-stopword token count, so avgdl = Σcf / N."""
    d = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("mn"),
        F.max(id_col).alias("mx"),
    ).collect()[0]
    v = dictionary.groupBy("term_id").agg(F.sum("cf").alias("cf")).agg(
        F.sum("cf").alias("total"), F.max("cf").alias("max_df")
    ).collect()[0]
    n = int(d["n"])
    return IndexStats(
        n_docs=n,
        avgdl=int(v["total"] or 0) / n if n else 0.0,
        min_doc_id=int(d["mn"] or 0),
        max_doc_id=int(d["mx"] or 0),
        max_df=int(v["max_df"] or 0),
    )


def build_blocks(
    rows: DataFrame,
    stats: IndexStats,
    params: BM25Params = BM25Params(),
    n_buckets: int | None = None,
    norm_dtype=np.float32,
    target_run_postings: int = 1_000_000,
    store_tf: bool = False,
) -> DataFrame:
    """Encode rows (:func:`postings.token_relations`) → compressed block
    index, with ONE data-sized shuffle.

    Plan: bucket = doc-id range → repartition(term_id, bucket) →
    sortWithinPartitions(term_id, bucket, doc_id[, pos]) → the encode
    kernel (mapInArrow) → df per term as Σ n_docs over its blocks (a
    window over block rows, ~BLOCK_SIZE× fewer than postings) →
    max_score = idf(df) · max_norm.  df is derived from the blocks, so a
    term's df and its blocks cannot drift.

    Rows carrying a ``pos`` column (occurrence rows) give positional
    blocks: a ``positions_bin`` delta-varint stream per block — the
    term_vector with_positions analogue — whose per-posting counts are
    the retained ``tfs_bin``.  Positions ride per-occurrence rows through
    the one exchange: an aggregated shuffle would have to carry position
    ARRAYS, worse than the raw rows it saves.

    ``n_buckets`` defaults to ADAPTIVE: ceil(stats.max_df /
    target_run_postings) clamped to [1, 1024].  The bucket count trades
    head-term task size (run ≈ max_df / n_buckets postings — keep ≲ 1M ≈
    8 MB so no single merge task is outsized) against tail fragmentation
    (a term with df < n_buckets splits into single-posting runs whose
    per-block metadata inflates the index).  Small corpora stay at 1
    bucket; 10^12-doc corpora reach the cap (head term 10^11 df →
    ~100M-posting runs across 1024 tasks)."""
    positions = "pos" in rows.columns
    if n_buckets is None:
        n_buckets = min(
            1024, max(1, -(-max(stats.max_df, 1) // target_run_postings))
        )
    # span over the ACTUAL id range: doc_id = xxhash64(url) is negative for
    # ~half of docs, so a max-only span would double the bucket range (and
    # an all-negative corpus would overflow the int cast).  The range of
    # hashed ids can exceed int64 (≈2^64 wide), so the bucket is computed
    # in double space: long→double is monotone, so buckets remain ordered
    # disjoint doc_id ranges in [0, n_buckets) — their exact boundaries
    # don't matter, only ordering + disjointness (the serving kernels and
    # the ordered-concat merge rely on nothing else).
    span_d = max(
        1.0, float(stats.max_doc_id - stats.min_doc_id + 1) / n_buckets
    )
    bucket = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_buckets - 1),
            F.floor(
                (F.col("doc_id").cast("double") - F.lit(float(stats.min_doc_id)))
                / F.lit(span_d)
            ).cast("int"),
        ),
    )
    last = "pos" if positions else "tf"
    # explicit N: a bare repartition(cols) is AQE-coalesced toward 64 MB
    # partitions, which throttles the (Python-side) encode stage to a
    # handful of tasks regardless of cores — measured flat 8→32 core
    # scaling until pinned.  2× parallelism keeps every core busy through
    # stragglers.
    n_parts = max(rows.sparkSession.sparkContext.defaultParallelism * 2, 16)
    keys = ["term_id", "bucket", "doc_id"]
    raw = (
        rows.withColumn("bucket", bucket)
        .select(*keys, "dl", last)
        .repartition(n_parts, "term_id", "bucket")
        .sortWithinPartitions(*keys, *(["pos"] if positions else []))
        .mapInArrow(
            _make_kernel(norm_dtype, params.k1, params.b, stats.avgdl,
                         positions, store_tf),
            schema=_kernel_schema(positions, store_tf),
        )
    )
    # df from block metadata: Σ n_docs over the term's blocks.  A window
    # keeps the plan single-pass (no self-join that would re-run the
    # kernel); it shuffles BLOCK-granularity rows only.
    w = Window.partitionBy("term_id")
    return (
        raw.withColumn("_df", F.sum("n_docs").over(w))
        .withColumn(
            "max_score", F.col("max_norm") * idf_col(F.col("_df"), stats.n_docs)
        )
        .drop("max_norm", "_df")
    )


class Positions(NamedTuple):
    """Decoded positional postings, one entry per posting in block row
    order, plus every posting's positions back to back."""

    term_id: np.ndarray   # int64
    doc_id: np.ndarray    # int64
    tf: np.ndarray        # int64, also the posting's number of positions
    positions: np.ndarray  # int64


def decode_positions(rows) -> Positions:
    """Decode positional block rows (an Arrow batch or table) into numpy
    postings — each binary column's varint streams decode in one
    vectorized pass, never per block or per posting in Python.  Doc ids
    un-delta per block and positions per posting, by segmented cumsum."""
    from docs_indexer_spark.operators.compression import (
        segmented_cumsum,
        varint_decode_column,
    )

    id_gaps, n_docs = varint_decode_column(rows.column("doc_ids_bin"))
    tfs = varint_decode_column(rows.column("tfs_bin"))[0].astype(np.int64)
    pos_gaps = varint_decode_column(rows.column("positions_bin"))[0]
    return Positions(
        np.repeat(rows.column("term_id").to_numpy().astype(np.int64), n_docs),
        segmented_cumsum(id_gaps, n_docs),
        tfs,
        segmented_cumsum(pos_gaps, tfs),
    )


def lead_pruned(table: pa.Table, lead_term: int) -> pa.Table:
    """The positional block rows of ``table`` a phrase containing
    ``lead_term`` can match in: every block of the lead term, and each
    other block whose ``[first_doc_id, last_doc_id]`` range holds one of
    the lead term's docs (bm25.blocks_containing).  Exact over any set of
    whole doc ranges: one bucket's rows, or a query's every hit block."""
    from docs_indexer_spark.operators.compression import (
        segmented_cumsum,
        varint_decode_column,
    )
    from docs_indexer_spark.operators.bm25 import blocks_containing

    is_lead = table.column("term_id").to_numpy() == lead_term
    lead_docs = np.sort(segmented_cumsum(*varint_decode_column(
        table.column("doc_ids_bin").filter(pa.array(is_lead))
    )))
    keep = is_lead | blocks_containing(
        table.column("first_doc_id").to_numpy(),
        table.column("last_doc_id").to_numpy(),
        lead_docs,
    )
    return table.filter(pa.array(keep))


def write_blocks(blocks: DataFrame, path: str, term_partitions: int = 32) -> None:
    """Persist the block index range-clustered by term_id: each of the
    ``term_partitions`` files holds one disjoint term_id range, sorted
    within by (term_id, bucket, block_seq).  A term's blocks all live in
    one file, so the manifest's per-file [min, max]
    (SnapshotCatalog.write_manifest) keeps one file per query term, and
    `term_id IN (...)` filters prune row groups within it."""
    (
        blocks.repartitionByRange(term_partitions, "term_id")
        .sortWithinPartitions("term_id", "bucket", "block_seq")
        .write.mode("overwrite")
        .parquet(path)
    )
