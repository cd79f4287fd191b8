"""End-to-end index build: resumable, checkpointed, atomically published.

Two-stage SPIMI structure (Manning/Raghavan/Schütze IIR ch.4), mapped onto
the resumability requirements (north-rule C4, reference A18/A19):

STAGE 1 — per-build-partition, RESUMABLE (the expensive pass):
    docs slice → extract text (pandas UDF if only html present)
              → upsert dedup by doc_id (last write per url wins — the
                reference's es.index(id=…) semantics, hugo.py:350-353)
              → postings.token_relations: tokenize once → vocabulary
                dictionary → encode rows with dl attached
              → staged parquet per slice (_stage/<build>/{docs,dict,rows})
                + a lineage checkpoint recording the slice's encode-row
                count (read from the parquet footers, no Spark job)
    A re-run with the same input fingerprint skips partitions whose
    checkpoint says done — the distributed generalization of the
    reference's check_index gate (hugo.py:378-385).

STAGE 2 — global merge, cheap relative to stage 1, idempotent:
    N and the doc-id range (doc store) + Σcf and the df bound
    (dictionaries) → spimi.build_blocks over the staged encode rows: one
    salted (term_id, bucket) exchange → encode → generation directory
    (blocks, df_stats = Σ n_docs over the written blocks, surfaces = the
    dictionaries' (raw, term_id), deletions, docs) → ATOMIC publish
    (catalog pointer swap = the reference's alias swap,
    hugo.py:465-483).

operators/fused.fused_build_blocks runs the same two steps without the
staging, for callers that want blocks in memory.

Scale notes: stage 1's unit of restart is a build partition (a hash slice
of urls), sized so one slice ≈ one executor-wave of work; at 1000
executors you'd run ~100 slices of ~1 TB.  Each slice broadcasts only its
own vocabulary.  Stage 2 shuffles (term_id, bucket) — the salt bounds the
head-term task; everything else is map-side.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from docs_indexer_spark.config import BLOCK_SIZE, BM25Params
from docs_indexer_spark.extraction.udfs import html2text_udf
from docs_indexer_spark.operators import spimi
from docs_indexer_spark.operators.postings import token_relations
from docs_indexer_spark.sources.catalog import SnapshotCatalog

# Parquet row-group size of the published deletions.parquet.  On the
# `serve` benchmark index (16 files, 753,834 rows) 32 KB cuts the table
# into 479 row groups of ~1.6k rows, and the fuzzy pool's candidate
# probe (BENCH/phrase_kernel.py probe_ms, median of 40 queries) took
# 1.5 ms against 5.9 ms with one row group per file, for 7% more bytes
# (4.40 against 4.11 MB).  A sweep of the same probe over rewritten
# copies of the table: 6.6 / 1.4 / 1.2 / 1.6 / 2.1 ms with one row group
# per file / 8 / 32 / 64 / 128 KB, for +0 / 23 / 7 / 5 / 2% bytes
DELETION_ROW_GROUP_BYTES = 32 * 1024


def prepare_documents(docs: DataFrame, use_extraction: bool = False) -> DataFrame:
    """input_hint table → (doc_id, url, warc_ts, [html,] text, lang).

    doc_id = xxhash64(url): stable across runs and partitions, no global
    sort at 10^12 docs.  Upsert semantics (reference A17/B13: last write
    per id wins) are applied as a window dedup by (doc_id, warc_ts desc) —
    this also absorbs the rare 64-bit hash collision by keeping one row.

    Deliberately does NOT run the extraction UDF: build_index slices the
    corpus into restartable partitions AFTER this step, and extraction must
    sit above that filter or every slice-job would re-extract the whole
    corpus (UDF below the pushed-down predicate).  Extraction is attached
    per slice via :func:`with_extracted_text`.
    """
    cols = ["doc_id", "url", "warc_ts", "text", "lang"]
    needs_extraction = use_extraction or "text" not in docs.columns
    if needs_extraction:
        cols.insert(3, "html")
        if "text" not in docs.columns:
            docs = docs.withColumn("text", F.lit(None).cast("string"))
    out = docs.withColumn("doc_id", F.xxhash64(F.col("url")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("warc_ts"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select(*cols)
    )


def with_extracted_text(docs: DataFrame) -> DataFrame:
    """Attach the vectorized HTML→text extraction (reference
    common.py:33-38) and drop the raw payload."""
    return docs.withColumn("text", html2text_udf(F.col("html"))).drop("html")


def with_rendering_fields(docs: DataFrame) -> DataFrame:
    """Attach the stored-field doc model the reference indexes for result
    rendering (mappings/hugo.json:3-44; SURVEY §1.1): title, breadcrumb
    columns, and the front-matter tail as a MapType.

    - ``title``: the parsed front-matter title (the exact-parity YAML
      subset parser, via one Arrow-batched UDF) with an HTML <title>
      fallback for non-markdown payloads;
    - ``breadcrumb_1..5``: URI path components exploded to columns (the
      reference's breadcrumb derivation, hugo.py:221-232) — native split;
    - ``front_matter``: the full front-matter map (the reference dumps the
      tail of unknown front-matter keys into the document).
    """
    from docs_indexer_spark.extraction.udfs import front_matter_json_udf

    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+/", "")
    crumbs = F.filter(F.split(path, "/"), lambda p: p != "")
    if "html" in docs.columns:
        payload = F.col("html").cast("string")
        fm = F.from_json(
            front_matter_json_udf(payload),
            "front_matter map<string,string>, body string",
        )
        html_title = F.regexp_extract(
            payload, r"(?is)<title[^>]*>(.*?)</title>", 1
        )
        out = docs.withColumn("_fm", fm.getField("front_matter"))
        title = F.coalesce(
            F.col("_fm").getItem("title"),
            F.when(html_title != "", html_title),
            F.lit(""),
        )
    else:  # pre-extracted input: no payload to parse, keep the columns
        out = docs.withColumn(
            "_fm", F.lit(None).cast("map<string,string>")
        )
        title = F.lit("")
    out = out.withColumn("title", title)
    for i in range(1, 6):
        out = out.withColumn(f"breadcrumb_{i}", F.get(crumbs, i - 1))
    return out.withColumnRenamed("_fm", "front_matter")


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    catalog: SnapshotCatalog,
    fingerprint: str,
    *,
    analyzer: str = "english",
    params: BM25Params = BM25Params(),
    n_build_partitions: int = 8,
    n_buckets: int | None = None,
    use_extraction: bool = False,
    id_col: str | None = None,
    fail_after_partition: int | None = None,
    positions: bool = False,
) -> dict:
    """Run (or resume) a full index build; returns build metrics.

    ``fail_after_partition`` is the failure-injection hook for the
    resumability test.
    """
    table = "index"
    if catalog.is_published(table, fingerprint):
        return {"skipped": True, "fingerprint": fingerprint}

    build_id = f"build-{fingerprint[:24]}"
    stage_root = f"{catalog.root}/_stage/{build_id}"
    done = catalog.done_partitions(build_id, fingerprint)

    # The slice key is a pure function of the upsert key (doc_id =
    # xxhash64(url)), so slicing BEFORE prepare_documents is equivalent to
    # slicing after — and keeps every per-slice job O(corpus/P): the window
    # dedup shuffles only its slice, the extraction UDF runs only on its
    # slice.  At 10^12 docs this is the difference between P×full-corpus
    # passes and exactly one full pass total.
    if id_col:
        slice_key = F.xxhash64(F.col(id_col))
    else:
        slice_key = F.xxhash64(F.xxhash64(F.col("url")))

    t0 = time.time()
    n_done_now = 0
    for p in range(n_build_partitions):
        if p in done:
            continue
        started = time.time()
        raw_slice = docs.filter(F.pmod(slice_key, F.lit(n_build_partitions)) == p)
        if id_col:
            part = (
                raw_slice.withColumn("doc_id", F.col(id_col))
                if id_col != "doc_id"
                else raw_slice
            )
            # the doc store carries every non-payload column (keyword /
            # date / numeric facets) so filtered search — bool {must,
            # filter} — evaluates predicates against the SNAPSHOT the
            # index was built from, not a mutable external table
            doc_cols = [c for c in part.columns if c not in ("text", "html")]
            part = part.select(*doc_cols, "text")
        else:
            part = with_rendering_fields(
                prepare_documents(raw_slice, use_extraction=use_extraction)
            )
            # content identity for the stored doc row: the snapshot-diff
            # consumer (catalog.incremental) must see body-only edits even
            # though the store drops the text/html payloads.  The guard
            # must check the POST-prepare columns — prepare_documents drops
            # html when text already exists, and coalescing an unresolvable
            # column fails analysis.
            part = part.withColumn(
                "content_hash",
                F.xxhash64(F.coalesce(
                    F.col("text"),
                    *([F.col("html").cast("string")]
                      if "html" in part.columns else []),
                    F.lit(""),
                )),
            )
            doc_cols = [c for c in part.columns if c not in ("text", "html")]
        # action 1: doc store slice (dedup only — no extraction in lineage)
        part.select(*doc_cols).write.mode("overwrite").parquet(
            f"{stage_root}/docs/p={p}"
        )
        if "html" in part.columns:
            part = with_extracted_text(part)
        # actions 2+3: the slice's dictionary and encode rows — the single
        # extract+tokenize pass (token_relations keeps Python to
        # O(|vocab|): stemming runs on distinct surface forms).  dl rides
        # every encode row, so stage 2 needs no doclens aggregate
        rel = token_relations(
            part, "text", analyzer=analyzer, positions=positions
        )
        rel.dictionary.write.mode("overwrite").parquet(f"{stage_root}/dict/p={p}")
        rows_path = f"{stage_root}/rows/p={p}"
        rel.rows.write.mode("overwrite").parquet(rows_path)
        rel.unpersist()
        catalog.checkpoint_done(
            build_id, p, fingerprint, _parquet_rows(rows_path), started
        )
        n_done_now += 1
        if fail_after_partition is not None and p >= fail_after_partition:
            raise RuntimeError(f"injected failure after partition {p}")
    t_stage1 = time.time() - t0

    # ---- stage 2: global merge ----
    t1 = time.time()
    docs_store = spark.read.parquet(f"{stage_root}/docs").drop("p")
    # select() drops the staged partition column p=N, which would
    # otherwise make per-slice duplicates survive the distincts below
    dictionary = spark.read.parquet(f"{stage_root}/dict").select(
        "raw", "term_id", "term", "cf"
    )
    stats = spimi.index_stats(docs_store, dictionary)
    blocks = spimi.build_blocks(
        spark.read.parquet(f"{stage_root}/rows").drop("p"), stats,
        params=params, n_buckets=n_buckets,
    )

    gen, gen_path = catalog.stage_generation(table, fingerprint)
    spimi.write_blocks(blocks, f"{gen_path}/blocks.parquet")
    # Iceberg-manifest analogue: per-file term_id min/max from parquet
    # footers, so per-query reads drop whole files before footer I/O
    manifest = SnapshotCatalog.write_manifest(
        f"{gen_path}/blocks.parquet", "term_id"
    )
    dictionary.select("raw", "term_id").distinct().coalesce(8).write.mode(
        "overwrite"
    ).parquet(f"{gen_path}/surfaces.parquet")
    # df = Σ n_docs over the term's WRITTEN blocks (block-granularity
    # rows; the encode never re-runs), published non-null (a required
    # parquet column) like every df_stats generation before it
    dfs = (
        spark.read.parquet(f"{gen_path}/blocks.parquet")
        .groupBy("term_id")
        .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("df"))
        .join(dictionary.select("term_id", "term").distinct(), "term_id")
    )
    dfs.coalesce(8).write.mode("overwrite").parquet(f"{gen_path}/df_stats.parquet")
    # the deletion index reads the df_stats just written, with its known
    # schema (no inference job), rather than re-running the block scan,
    # aggregate and dictionary join behind ``dfs``
    df_stats = spark.read.schema(dfs.schema).parquet(
        f"{gen_path}/df_stats.parquet"
    )
    write_deletions(df_stats, f"{gen_path}/deletions.parquet")
    # published in BOTH id modes: serving-side filtered search and
    # rendering joins must read generation-pinned doc rows
    docs_store.write.mode("overwrite").parquet(f"{gen_path}/docs.parquet")
    t_stage2 = time.time() - t1

    metrics = {
        "n_docs": stats.n_docs,
        "avgdl": stats.avgdl,
        "analyzer": analyzer,
        "partitions_built": n_done_now,
        "partitions_skipped": len(done),
        "stage1_sec": t_stage1,
        "stage2_sec": t_stage2,
        "k1": params.k1,
        "b": params.b,
        "positions": positions,
        # recorded so serving-side calibrations (phrase rarest-lead
        # pruning) read the REAL postings-per-block of this generation
        # instead of assuming the builder's compile-time constant
        "block_size": BLOCK_SIZE,
        # layout of the published block files, from the manifest: their
        # count and the range partitioner's skew (rows of the largest
        # file over the mean)
        **_layout_stats(manifest),
    }
    catalog.publish(table, gen, fingerprint, metrics)
    # the staged rows/docs and lineage checkpoints served their purpose
    # once the generation is live — without this every build leaks a full
    # copy of its encode rows under _stage/
    catalog.cleanup_build(build_id)
    return metrics


def write_deletions(df_stats: DataFrame, path: str) -> None:
    """Publish the SymSpell deletion-neighborhood index of the vocabulary
    ``df_stats`` (term, df) at ``path``: (variant, term) for every
    ≤2-deletion variant.  Fuzzy queries become probes of this table plus
    a driver-side Damerau-OSA verify of the handful of candidates,
    instead of a per-query vocabulary scan — at a 10^8-term web
    vocabulary that is the difference between ms and minutes per query.
    ~45× vocabulary rows at typical term lengths.

    Range-partitioned + sorted by variant: each query's variant IN-list
    prunes whole files via parquet min/max stats; a coalesced write would
    both serialize the build and defeat serving-side pruning.  Row groups
    of :data:`DELETION_ROW_GROUP_BYTES` let a probe read the few row
    groups whose variant range holds a query variant, not a whole file."""
    from docs_indexer_spark.operators.suggest import deletion_index

    deletion_index(
        df_stats.select("term", F.col("df").alias("cf")), max_edits=2
    ).select("variant", "term").repartitionByRange(
        16, "variant"
    ).sortWithinPartitions("variant").write.mode("overwrite").option(
        "parquet.block.size", DELETION_ROW_GROUP_BYTES
    ).parquet(path)


def _layout_stats(manifest: dict) -> dict:
    """``block_files`` and ``block_rows_max_over_mean`` of a block
    dataset's manifest (SnapshotCatalog.write_manifest)."""
    rows = [e["rows"] for e in manifest["files"]]
    mean = sum(rows) / len(rows) if rows else 0.0
    return {
        "block_files": len(rows),
        "block_rows_max_over_mean": max(rows) / mean if mean else 0.0,
    }


def _parquet_rows(path: str) -> int:
    """Row count of a written parquet directory from its file footers
    (pyarrow; no Spark job)."""
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(f"{path}/*.parquet")
    )
