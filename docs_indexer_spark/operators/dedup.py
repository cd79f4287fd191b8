"""Deduplication operators for large-scale training-data pipelines.

All hashing is md5-based and defined identically in Spark SQL and ANSI SQL
(DuckDB), so every operator here has an exact SQL oracle: the first 8 hex
chars of md5 are parsed as a 32-bit unsigned int — `conv(substr(md5(x),1,8),
16,10)` in Spark, `from_hex`-equivalent arithmetic in DuckDB.

- exact_duplicates:   hash-groupBy on normalized text (one shuffle,
                      map-side combine; at 100 TB group on the 128-bit md5,
                      never the raw text — 16 bytes/row through the shuffle)
- minhash_signatures: k permutations approximated by k seeded md5 draws
                      over word shingles; LSH banding → candidate pairs via
                      a self-join on (band, band_hash) buckets (broadcast is
                      wrong here — bucket join scales linearly)
- simhash64:          64-bit simhash over token md5s (near-dup by hamming
                      distance; native bit ops)
- ngram_jaccard_pairs: exact n-gram Jaccard over candidate pairs
- embedding near-dup: see operators/similarity.py (cosine buckets)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# first-8-hex-chars-of-md5 as an unsigned 32-bit int — the shared hash
# primitive; expressible in DuckDB as: CAST(('0x' || substr(md5(x),1,8)) AS BIGINT)


def _h32(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs, min_doc_id).

    The canonical keep-one rule is "keep min doc_id"; rows with n_docs > 1
    are duplicate clusters.  Shuffles 16-byte hashes, not documents.
    """
    return (
        docs.select(id_col, F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def _zip_grams(toks, n: int):
    """Space-joined n-gram array via CHAINED zip_with over n shifted
    slices — the same strings as array_join(slice(toks, i, n)) per
    window (chained concat_ws(" ", acc, next) associates to the same
    space-joined result), but ~1.3-1.8× faster measured at sf1.0 (n=2:
    1.26 → 0.71 s, n=3: 2.01 → 1.51, n=8: 1.56 → 1.37): the per-window
    slice allocation + join of the transform(sequence(...)) form costs
    more than zip_with's columnar pairwise concats.  Valid only when
    size(toks) >= n (slice length must stay positive) — callers guard."""
    size = F.size(toks)
    out_len = size - n + 1
    acc = F.slice(toks, 1, out_len)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, out_len),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return acc


def shingles_from_tokens(toks, n: int = 3):
    """n-word shingles as array<string> over an ALREADY-MATERIALIZED token
    array column.

    ``toks`` must be a plain column reference (an attribute), never an
    inline tokenizer expression: the n slice() arguments (and HOF lambda
    bodies) re-evaluate the expression they reference (no subexpression
    elimination on the interpreted eval path), so an inline
    ``tokens_col(text)`` here re-tokenizes the whole document several
    times — measured ~16 ms/doc instead of ~0.1 ms.  Use
    :func:`with_word_shingles` to get the projection barriers right.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    size = F.size(toks)
    return F.when(size >= n, _zip_grams(toks, n)).otherwise(
        F.array(F.array_join(toks, " "))
    )


def with_word_shingles(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
    keep: list[str] | None = None,
) -> DataFrame:
    """(keep..., shingles array<string>) with the token array materialized
    as an attribute between tokenize and the shingling HOF (see
    :func:`shingles_from_tokens` for why the barrier matters).  The token
    column is referenced more than once inside the shingle expression, so
    CollapseProject keeps the barrier in place."""
    from docs_indexer_spark.functions.analysis import tokens_col

    from docs_indexer_spark.session import spread

    keep = keep if keep is not None else [c for c in docs.columns if c != text_col]
    toks_df = spread(docs).select(*keep, tokens_col(text_col).alias("_toks"))
    return toks_df.select(
        *keep, shingles_from_tokens(F.col("_toks"), n).alias(out_col)
    )


def word_shingles(text_col, n: int = 3):
    """DEPRECATED inline form — tokenizes inside the shingle HOF, which
    re-runs the tokenizer per shingle (see :func:`shingles_from_tokens`).
    Kept for expression-level callers on tiny slices; every operator in
    this module uses :func:`with_word_shingles` instead."""
    from docs_indexer_spark.functions.analysis import tokens_col

    toks = tokens_col(text_col) if isinstance(text_col, str) else text_col
    return shingles_from_tokens(toks, n)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash: str = "xx",
) -> DataFrame:
    """(doc_id, sig: array<long>) — minhash over word shingles.

    Permutation i is approximated by a seeded hash of the shingle; the
    signature entry is the min over shingles.  Fully native (no UDF):
    transform + array_min inside one projection, so the whole thing is one
    scan, zero shuffles.

    ``hash`` picks the seeded hash family:
    - ``"xx"`` (production): xxhash64(seed, shingle) — ONE cheap JVM hash
      per (seed, shingle).  Use this at scale.
    - ``"md5"`` (SQL-parity): first 8 hex chars of md5(f"{seed}:" + shingle)
      — byte-identical in DuckDB, so the driver oracle can recompute the
      exact signatures.  16 md5 passes per shingle array; parity plane only.
    """
    shingled = with_word_shingles(
        docs, text_col, shingle_n, out_col="_sh", keep=[id_col]
    )
    sh = F.col("_sh")

    # ONE traversal with a k-wide running minimum instead of k separate
    # array_min(transform(...)) traversals: identical signatures (min of
    # the same per-seed hash streams; pinned by the oracle rows), equal
    # in the banding flow — but 10× faster when a consumer forces the
    # WHOLE sig array in one expression (e.g. persisting signatures:
    # 102 s → 10.9 s for a full-corpus sig materialization at sf1.0,
    # where the k-traversal form re-walked the shingle array per entry).
    if hash == "md5":
        def hashes(s):
            return F.array(
                *[
                    _h32(F.concat(F.lit(f"{i}:"), s))
                    for i in range(num_hashes)
                ]
            )
    else:
        def hashes(s):
            return F.array(
                *[F.xxhash64(F.lit(i), s) for i in range(num_hashes)]
            )

    start = F.array(
        *[F.lit((1 << 63) - 1).cast("long") for _ in range(num_hashes)]
    )
    sig = F.aggregate(
        F.transform(sh, hashes),
        start,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
    )
    return shingled.select(F.col(id_col), sig.alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int | None = None,
) -> DataFrame:
    """MinHash-LSH: band the signature, bucket-join on (band, band_key).

    Pairs sharing any band bucket are candidates: (doc_a, doc_b) with
    doc_a < doc_b.  The join is a shuffle join on the bucket key — the
    scalable formulation (a broadcast would cap corpus size); AQE splits
    skewed buckets (a degenerate all-identical corpus).

    Pass ``num_hashes`` (the signature length) to keep the plan fully lazy;
    omitted, it is probed with one tiny job.
    """
    if num_hashes is None:
        num_hashes = int(signatures.select(F.size("sig").alias("n")).first()["n"])
    rows_per_band = num_hashes // bands
    banded = signatures.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col(f"l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def _simhash_list_kernel(batches):
    """(doc_id, per-token hash ARRAY) rows → one (doc_id, simhash) row
    per non-empty doc.  Docs arrive whole per row, so the per-doc bit
    sums are one np.add.reduceat over the flattened hash stream — no
    explode, no partition sort, no cross-batch carry (the win over
    :func:`_simhash_bitcount_kernel`, kept below for the exploded-row
    shape).  Rows are processed in bounded-token chunks so the
    (tokens × 64) bit matrix never exceeds ~0.5 GB however many docs an
    Arrow batch packs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    shifts = np.arange(64, dtype=np.uint64)
    # 128k tokens/chunk → the (tokens × 64) int64 bit matrix stays ≤64 MB
    # per concurrent task: at 32 local tasks a 1M-token chunk allocated
    # 0.5 GB each (16 GB aggregate transient) and measured 2-4× slower
    # late in a loaded bench run than this bound — vectorization is
    # already fully amortized at 128k rows
    chunk_tokens = 1 << 17

    for batch in batches:
        if batch.num_rows == 0:
            continue
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        hs = batch.column(1)
        if hs.null_count:
            raise ValueError("simhash list kernel: null hash rows in batch")
        lens = pc.list_value_length(hs).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        flat_all = hs.flatten().to_numpy(zero_copy_only=False).astype(
            np.int64
        ).view(np.uint64)
        offs = np.concatenate([[0], np.cumsum(lens)])
        n_rows = len(ids)
        r0 = 0
        while r0 < n_rows:
            r1 = r0 + 1
            while r1 < n_rows and offs[r1 + 1] - offs[r0] <= chunk_tokens:
                r1 += 1
            sl = slice(int(offs[r0]), int(offs[r1]))
            clens = lens[r0:r1]
            keep = clens > 0
            starts = (offs[r0:r1] - offs[r0])[keep]
            if len(starts):
                bits = (
                    (flat_all[sl][:, None] >> shifts) & np.uint64(1)
                ).astype(np.int64)
                sums = np.add.reduceat(bits, starts, axis=0)
                counts = clens[keep]
                b = (sums * 2 > counts[:, None]).astype(np.uint64)
                sim = (b << shifts).sum(axis=1, dtype=np.uint64).astype(
                    np.int64
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            ids[r0:r1][keep].astype(np.int64),
                            type=pa.int64(),
                        ),
                        pa.array(sim, type=pa.int64()),
                    ],
                    names=["_id", "simhash"],
                )
            r0 = r1


def _simhash_bitcount_kernel(batches):
    """(doc_id, h) rows sorted by doc_id within the partition → one
    (doc_id, simhash) row per doc.  Vectorized per-bit majority count:
    the (n_rows × 64) bit matrix is summed per doc-run with
    np.add.reduceat; a carry merges runs that span Arrow batches.
    Integer sums are order-independent, so the output is bit-identical
    to the 64-aggregate native formulation for either hash family."""
    import numpy as np
    import pyarrow as pa

    shifts = np.arange(64, dtype=np.uint64)

    def pack(sums, counts):
        bits = (sums * 2 > counts[:, None]).astype(np.uint64)
        return (bits << shifts).sum(axis=1, dtype=np.uint64).astype(np.int64)

    carry_id = None
    carry_sums = None
    carry_n = 0
    for batch in batches:
        if batch.num_rows == 0:
            continue
        ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        hs = (
            batch.column(1).to_numpy(zero_copy_only=False)
            .astype(np.int64).view(np.uint64)
        )
        bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        n = len(ids)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = ids[1:] != ids[:-1]
        starts = np.flatnonzero(change)
        counts = np.diff(np.append(starts, n))
        sums = np.add.reduceat(bits, starts, axis=0)
        run_ids = ids[starts]
        if carry_id is not None:
            if run_ids[0] == carry_id:
                sums[0] += carry_sums
                counts[0] += carry_n
            else:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([carry_id], type=pa.int64()),
                        pa.array(
                            pack(carry_sums[None, :], np.array([carry_n])),
                            type=pa.int64(),
                        ),
                    ],
                    names=["_id", "simhash"],
                )
        carry_id = int(run_ids[-1])
        carry_sums = sums[-1].copy()
        carry_n = int(counts[-1])
        if len(run_ids) > 1:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(run_ids[:-1], type=pa.int64()),
                    pa.array(pack(sums[:-1], counts[:-1]), type=pa.int64()),
                ],
                names=["_id", "simhash"],
            )
    if carry_id is not None:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([carry_id], type=pa.int64()),
                pa.array(
                    pack(carry_sums[None, :], np.array([carry_n])),
                    type=pa.int64(),
                ),
            ],
            names=["_id", "simhash"],
        )


def simhash64(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xx",
    vectorized: bool = True,
) -> DataFrame:
    """(doc_id, simhash long): 64-bit simhash over per-token hash bits.

    Bit b of the simhash is 1 iff the majority of tokens have bit b set in
    their 64-bit hash.  Near-dups are rows with small hamming distance
    (bit_count(a ^ b)) — find them with :func:`simhash_near_dup_pairs`,
    never an all-pairs join.

    Two executions of the same arithmetic (identical output — integer bit
    sums are order-independent; pinned by a test):

    - ``vectorized=True`` (default): token hashes ride IN PLACE (spread
      already partitions docs by id and explode preserves it, so only a
      partition-local sort orders doc runs — ZERO added exchanges) into an
      Arrow kernel that majority-counts the (rows × 64) bit matrix with
      np.add.reduceat.  Replaces a 65-expression hash aggregate.
    - ``vectorized=False``: the all-native formulation (64 shift/mask sum
      aggregates + majority reassembly) — keeps a pure-Column path for
      environments where the Arrow boundary is unwanted.

    ``hash="xx"`` (production) uses xxhash64; ``hash="md5"`` derives the 64
    bits from md5's first 16 hex chars (two 32-bit halves, shift+or) —
    recomputable in ANSI SQL/DuckDB, so the driver oracle can verify the
    whole simhash + hamming plane bit-for-bit.
    """
    from docs_indexer_spark.functions.analysis import tokens_col
    from docs_indexer_spark.session import spread

    if hash == "md5":
        def hfn(tok):
            md5 = F.md5(tok)
            hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)
    else:
        def hfn(tok):
            return F.xxhash64(tok)
    if vectorized:
        # hash per token inside the ARRAY (one transform HOF — the hash
        # itself is JVM-native either way) and majority-count per doc in
        # the list kernel: no explode, no partition sort, no cross-batch
        # run carry.  Measured r6 at sf1.0: xx 1.03 → 0.76 s, md5
        # 1.56 → 0.91 s vs the exploded-row kernel, bit-identical.
        hl = spread(docs, key=id_col).select(
            F.col(id_col).cast("long"),
            F.transform(tokens_col(text_col), hfn).alias("_hs"),
        )
        out = hl.mapInArrow(
            _simhash_list_kernel, schema="_id long, simhash long"
        )
        return out.select(F.col("_id").alias(id_col), "simhash")
    toks = spread(docs, key=id_col).select(
        id_col, F.explode(tokens_col(text_col)).alias("tok")
    )
    hashed = toks.withColumn("h", hfn(F.col("tok")))
    bit_sums = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(64)
        ],
    )
    sim = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1)).otherwise(F.lit(0))
        term = F.shiftleft(bit.cast("long"), b)
        sim = term if sim is None else sim.bitwiseOR(term)
    return bit_sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_dup_pairs(
    sims: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with hamming(simhash) ≤ max_hamming —
    WITHOUT an all-pairs join.

    Pigeonhole banding (Manku et al., WWW'07 "Detecting Near-Duplicates
    for Web Crawling"): split the 64-bit hash into ``max_hamming + 1``
    disjoint chunks; two hashes within hamming ``k`` must agree EXACTLY on
    at least one chunk, so an equi-join on (chunk_idx, chunk_value) finds
    every qualifying pair.  The join is a shuffle hash join whose key space
    is 2^chunk_bits × chunks — at the default k=3 that is 4 chunks of 16
    bits, the classic web-dedup configuration.  Exact hamming is verified
    on the (small) candidate set; higher k widens recall but coarsens the
    chunks — keep k ≤ 7 (8-bit chunks) or switch to a multi-probe scheme.

    Replaces the O(n²) self-join the naive formulation plans (a cartesian
    BroadcastNestedLoop at any corpus size — the 100-TB scale-killer).
    """
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    widths = [base + 1 if i < rem else base for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("idx"),
                F.shiftright(F.col(sim_col), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("val"),
            )
            for i in range(n_chunks)
        ]
    )
    banded = sims.select(
        F.col(id_col), F.col(sim_col), F.explode(chunks).alias("c")
    ).select(id_col, sim_col, "c.idx", "c.val")
    # force a shuffle join: both sides are the SAME plan exchanging on the
    # same key, so Spark reuses one exchange and the (expensive) simhash
    # aggregation runs once — a broadcast join would recompute it per side,
    # and broadcasting the banded corpus is wrong at scale anyway
    left = banded.alias("l").hint("shuffle_hash")
    right = banded.alias("r")
    ham = F.bit_count(
        F.col(f"l.{sim_col}").bitwiseXOR(F.col(f"r.{sim_col}"))
    )
    return (
        left.join(
            right,
            (F.col("l.idx") == F.col("r.idx"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: (doc_a, doc_b, jaccard).

    docs→shingle-sets once; two joins to attach both sides; the set ops are
    native array functions.  Meant for the (small) LSH candidate set — this
    is the verify stage, not the discovery stage.
    """
    sets_df = with_word_shingles(
        docs, text_col, n, out_col="_sh", keep=[id_col]
    ).select(F.col(id_col), F.array_distinct("_sh").alias("grams"))
    a = sets_df.withColumnRenamed(id_col, "doc_a").withColumnRenamed("grams", "ga")
    b = sets_df.withColumnRenamed(id_col, "doc_b").withColumnRenamed("grams", "gb")
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    return joined.select(
        "doc_a",
        "doc_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def _winnow_min_kernel(window: int):
    """Arrow kernel: (doc_id, hash array) → unique (doc_id, fp) rows.
    The sliding-window minimum is ONE vectorized np.minimum reduction
    over ``window`` shifted views of the flattened hash stream (per-doc
    validity via the list offsets), replacing the interpreted
    transform(sequence, array_min(slice)) HOF — O(n·w) expression
    evaluations per document.  Output is per-doc deduped (np.unique), so
    no downstream distinct is needed; integer mins are order-free, so
    rows are identical to the HOF path (pinned by test)."""
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            hs = batch.column(1)
            if hs.null_count:
                raise ValueError("winnow kernel: null hash rows in batch")
            lens = pc.list_value_length(hs).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            flat = hs.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            offs = np.concatenate([[0], np.cumsum(lens)])
            n = len(flat)
            w = window
            if n >= w:
                m = flat[: n - w + 1].copy()
                for s in range(1, w):
                    np.minimum(m, flat[s: n - w + 1 + s], out=m)
            else:
                m = np.empty(0, dtype=np.int64)
            out_ids: list[np.ndarray] = []
            out_fps: list[np.ndarray] = []
            for r in range(len(ids)):
                a, b = int(offs[r]), int(offs[r + 1])
                ln = b - a
                if ln <= 0:
                    continue
                if ln >= w:
                    sel = m[a: b - w + 1]
                else:
                    sel = flat[a:b].min(keepdims=True)
                u = np.unique(sel)
                out_ids.append(np.full(len(u), ids[r], dtype=np.int64))
                out_fps.append(u)
            if out_ids:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_ids), type=pa.int64()),
                        pa.array(np.concatenate(out_fps), type=pa.int64()),
                    ],
                    names=["_id", "fp"],
                )

    return kernel


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xx",
    vectorized: bool = True,
) -> DataFrame:
    """(doc_id, fp) — winnowing document fingerprints (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003).

    k-word shingles → per-shingle hash → every sliding window of
    ``window`` consecutive hashes selects its MINIMUM → distinct selected
    hashes are the document's fingerprint set.  The winnowing guarantee:
    any shared token run of length ≥ k + window - 1 between two documents
    shares at least one fingerprint, while expected density is only
    2/(window+1) of all shingles — the standard local fingerprinting
    scheme for plagiarism/boilerplate detection in web corpora.

    Documents shorter than ``window`` shingles contribute their single
    global-min fingerprint; empty documents contribute nothing.  All
    native (HOF + array_min — no UDF); the token and hash arrays are
    materialized as attributes behind projection barriers (HOF lambdas
    re-evaluate referenced EXPRESSIONS per element).

    ``hash="xx"`` is the production family (xxhash64 per shingle);
    ``hash="md5"`` is the SQL-parity family (first-8-hex-of-md5, the
    module's shared `_h32`) for the DuckDB oracle twin.
    """
    from docs_indexer_spark.functions.analysis import tokens_col
    from docs_indexer_spark.session import spread

    if hash == "md5":
        hfn = _h32
    else:
        def hfn(s):
            return F.xxhash64(s)
    # Empty docs are excluded on the TOKEN array, BEFORE shingling: a
    # filter applied above the shingle projection gets pushed below it by
    # Catalyst with the whole shingle HOF inlined into the Filter — the
    # shingling then runs 2-3× per row (measured 100+ ms/doc on the
    # sliced gate query).  Filtering on tokens costs one extra tokenizer
    # pass and nothing else.
    toks_df = (
        spread(docs).select(
            F.col(id_col), tokens_col(text_col).alias("_toks")
        )
        .filter(F.size("_toks") > 0)
    )
    hashed = toks_df.select(
        id_col, shingles_from_tokens(F.col("_toks"), k).alias("_sh")
    ).withColumn("_hs", F.transform("_sh", hfn))
    if vectorized:
        # sliding-min + per-doc dedupe in one Arrow kernel (docs arrive
        # whole per row, so the kernel's per-doc unique IS the global
        # (doc_id, fp) distinct — no shuffle needed for dedup)
        return (
            hashed.select(F.col(id_col).cast("long"), "_hs")
            .mapInArrow(
                _winnow_min_kernel(window), schema="_id long, fp long"
            )
            .select(F.col("_id").alias(id_col), "fp")
        )
    hs = F.col("_hs")
    n_win = F.size(hs) - window + 1
    fps = F.when(
        F.size(hs) >= window,
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.array_min(F.slice(hs, i, window)),
        ),
    ).otherwise(F.array(F.array_min(hs)))
    return (
        hashed.select(id_col, F.explode(F.array_distinct(fps)).alias("fp"))
        .distinct()
    )


def winnow_candidate_pairs(fps: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_a, doc_b, shared_fps) — document pairs sharing ≥1 winnowing
    fingerprint, via a fingerprint equi-join (shuffle on fp, never
    all-pairs; same scale shape as the LSH bucket joins)."""
    a = fps.select(F.col(id_col).alias("doc_a"), "fp")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, comp) — connected components of the candidate-pair graph,
    comp = min node id reachable through pairs (the canonical cluster
    representative).  THE missing step between near-dup pair discovery
    and actual deduplication: pairs only say "these two collide"; keeping
    one doc per CLUSTER needs the transitive closure.

    Min-label propagation: each round every node takes the min component
    label among itself and its neighbors; converges in O(graph diameter)
    rounds (near-dup clusters are small and dense, so typically 2-3).
    Each round is one shuffle join + aggregate on the EDGE list — never
    materializes paths, never a cartesian; persist + early-exit when a
    round changes nothing.  (The alternating large-star/small-star
    optimization of Kiveris et al. halves rounds on chain-shaped graphs;
    near-dup graphs are clique-like, where plain propagation is already
    round-optimal.)
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    )
    # localCheckpoint (eager) rather than persist: every round's plan
    # otherwise embeds the previous round's FULL lineage — by round k the
    # logical plan is exponential in k and the DRIVER dies planning it
    # (observed: heap OOM at ~10 rounds on a 40-node graph).  Truncating
    # lineage per round keeps each iteration's plan one join + one
    # aggregate deep; on a real cluster use reliable checkpoint() to also
    # survive executor loss mid-loop.
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    changed = 1
    for it in range(max_iter):
        nbr = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("comp").alias("nbr_comp")
                ),
                "b",
            )
            .select(F.col("a").alias("node"), "nbr_comp")
        )
        new_labels = (
            labels.select("node", F.col("comp").alias("nbr_comp"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("nbr_comp").alias("comp"))
            .localCheckpoint()
        )
        if it == 0 and max_iter > 1:
            # the first round ALWAYS changes a label on a non-empty
            # graph (for any edge a < b, node b adopts a), so the
            # convergence-check join is pure overhead here — skip it
            labels = new_labels
            continue
        changed = (
            new_labels.join(labels.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # returning a non-converged labelling would silently split real
        # clusters (dedup_representatives then KEEPS duplicates) — fail
        # loudly so the caller raises max_iter or switches to the
        # O(log n)-round two-phase variant below
        raise RuntimeError(
            f"connected_components: labels still changing after {max_iter} "
            "rounds (graph diameter exceeds max_iter); raise max_iter or "
            "use connected_components_star for chain-shaped graphs"
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, comp) — alternating large-star / small-star connected
    components (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014).  Output is IDENTICAL to
    :func:`connected_components` (comp = min reachable node id); the
    difference is round complexity: O(log² n) rounds on ANY graph shape
    vs O(diameter) for min-label propagation.  On clique-like near-dup
    graphs plain propagation wins (2-3 rounds, one job each); on
    chain/lattice-shaped candidate graphs — long shingle overlaps,
    transitive URL chains — diameter can be thousands and this variant
    is the one that terminates.

    Each round is two phases, each one groupBy-min + one equi-join on
    the current edge list (never a cartesian, never materialized paths):

    - LARGE-STAR: for every node u link each STRICTLY LARGER neighbor v
      to m = min(Γ(u) ∪ {u}) — detaches high ids from local minima
      without ever increasing a node's smallest link;
    - SMALL-STAR: orient edges large→small, then link every smaller
      neighbor (and u itself) to the minimum — flattens the partial
      trees toward stars.

    Converges when the edge set is a fixed point (every edge (v, root));
    per-round localCheckpoint truncates the iterative lineage exactly as
    in :func:`connected_components`.
    """
    import logging

    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("a"),
            F.col(id_b).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).distinct().localCheckpoint()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over the symmetric neighborhood
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("mb")).select(
            "a", F.least("a", "mb").alias("m")
        )
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star on large→small oriented edges
        oriented = large.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        mins2 = oriented.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            oriented.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # fixed point: the (distinct) edge sets are equal — one anti-join
        # each way on relations we already hold
        same = (
            small.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(small).limit(1).count() == 0
        )
        e = small
        if same:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixed point in {max_iter} rounds"
        )
    logging.getLogger(__name__).info(
        "connected_components_star converged in %d rounds", rounds
    )
    # at the fixed point every edge is (node, component-root); roots and
    # isolated-in-pairs nodes label themselves
    return (
        nodes.join(
            e.select(F.col("a").alias("node"), F.col("b").alias("comp")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.min(F.coalesce("comp", "node")).alias("comp"))
    )


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    algorithm: str = "label",
) -> DataFrame:
    """``docs`` minus non-representative near-duplicate cluster members
    (keep the min-id doc per connected component) — the end-to-end dedup
    FILTER a training-data pipeline applies after candidate discovery +
    verification.  Docs in no pair are kept untouched (left-anti on the
    drop set, never a full join of the corpus against itself).

    ``algorithm``: "label" (min-label propagation — round-optimal on the
    clique-like graphs near-dup discovery emits) or "star" (alternating
    large/small-star — O(log² n) rounds on any shape; use when the
    candidate graph may contain long chains)."""
    cc = connected_components_star if algorithm == "star" \
        else connected_components
    comp = cc(pairs, id_a, id_b)
    drop = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def duplicate_substring_spans(
    docs: DataFrame,
    l: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xx",
    keep_first: bool = False,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows) — maximal duplicated
    token spans of length ≥ ``l``, the substring-level exact-dedup axis
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", ExactSubstr) re-expressed as distributed L-gram
    window algebra instead of a monolithic suffix array:

    1. every length-``l`` token window → (doc_id, pos, window hash);
    2. a window is DUPLICATED iff its gram occurs more than once in the
       whole corpus (within- or cross-document, as in the paper);
    3. per document, overlapping duplicated windows merge into maximal
       spans (gaps-and-islands over pos; ``span_end`` is exclusive,
       token units).

    EXACTNESS at window granularity: a duplicated substring of m ≥ l
    tokens contributes its m−l+1 (mutually overlapping) windows, whose
    union reconstructs the span; conversely every duplicated window
    lies inside a duplicated substring — so the island cover equals the
    maximal-duplicated-span cover.  What the suffix array adds is
    CHARACTER-level boundaries; token granularity is the standard
    practical relaxation.

    ``keep_first=True`` = the paper's remove-all-but-one policy: the
    globally first occurrence of each gram (min (doc_id, pos)) is not
    counted as removable, so spans cover only text that would be CUT.

    Scale shape: one gram-hash aggregate (map-side combine) + one
    equi-join back on the hash + one per-document window — no driver
    state, no all-pairs anything.  ``hash="md5"`` is the SQL-parity
    family (`_h32`); production ``"xx"`` is one xxhash64 per window.
    """
    from docs_indexer_spark.functions.analysis import tokens_col
    from docs_indexer_spark.session import spread
    from pyspark.sql.window import Window

    # F.xxhash64 is *cols-variadic — wrap to unary for HOF dispatch
    hfn = _h32 if hash == "md5" else (lambda s: F.xxhash64(s))
    toks_df = (
        spread(docs)
        .select(F.col(id_col), tokens_col(text_col).alias("_toks"))
        .filter(F.size("_toks") >= l)
    )
    grams = toks_df.select(
        id_col, shingles_from_tokens(F.col("_toks"), l).alias("_g")
    )
    wins = grams.select(
        F.col(id_col),
        F.posexplode(F.transform("_g", hfn)).alias("pos", "hv"),
    )
    # duplicate detection as a WINDOW over hv rather than an aggregate
    # joined back: the join-back shape evaluated the whole tokenize →
    # shingle → hash projection TWICE (once to build the stats side,
    # once on the probe side — the two subtrees differ, so no exchange
    # reuse is possible); the window costs one hv exchange and touches
    # the heavy projection exactly once (guide §2.4).
    w_hv = Window.partitionBy("hv")
    enriched = wins.withColumn("_n", F.count(F.lit(1)).over(w_hv))
    if keep_first:
        enriched = enriched.withColumn(
            "_first",
            F.min(F.struct(F.col(id_col), F.col("pos"))).over(w_hv),
        )
    dup = enriched.filter(F.col("_n") > 1)
    if keep_first:
        dup = dup.filter(
            (F.col(id_col) != F.col("_first")[id_col])
            | (F.col("pos") != F.col("_first")["pos"])
        )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + l).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.select(id_col, "pos").withColumn(
        "_brk",
        F.when(prev_end.isNull() | (F.col("pos") >= prev_end), 1).otherwise(0),
    )
    island = F.sum("_brk").over(w)
    return (
        marked.withColumn("_isl", island)
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + l).alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_windows"),
        )
        .drop("_isl")
    )


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination by token n-gram overlap (the GPT-3
    appendix-C / Dodge et al. 2021 "documented contamination" check):
    flag every corpus document sharing at least one n-gram with any
    benchmark document.  Returns one row per contaminated doc:
    ``(doc_id, n_grams_hit, n_bench_docs)`` — distinct overlapping
    grams and distinct benchmark documents hit.  The caller supplies
    the two relations (and excludes benchmark members from ``docs`` if
    they are drawn from the same table); ``n`` defaults to 13, the
    GPT-3 filter size.

    100-TB shape: an evaluation set is MB-sized against a TB corpus, so
    the benchmark's distinct (bench_id, gram) pairs BROADCAST and the
    corpus relation is touched exactly once — tokenize → gram explode →
    broadcast hash join → per-doc aggregate with map-side combine.  The
    only corpus-sized shuffle is the final doc_id aggregate, the
    answer's own grain.  Docs shorter than ``n`` tokens emit no grams
    (empty-array explode), so no filter has to reach through the heavy
    tokenizer projection.
    """
    from docs_indexer_spark.functions.analysis import tokens_col

    from docs_indexer_spark.session import spread

    bench_id = bench_id_col or id_col

    def gram_pairs(df: DataFrame, idc: str, out: str) -> DataFrame:
        rel = spread(df).select(
            F.col(idc).alias(out), tokens_col(text_col).alias("_toks")
        )
        toks = F.col("_toks")
        g = F.when(
            F.size(toks) >= n, _zip_grams(toks, n)
        ).otherwise(F.array().cast("array<string>"))
        return rel.select(out, F.explode(g).alias("gram"))

    bpairs = gram_pairs(bench, bench_id, "bench_id").distinct()
    cpairs = gram_pairs(docs, id_col, id_col)
    return (
        cpairs.join(F.broadcast(bpairs), "gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_grams_hit"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
