"""Inverted-index construction as a declarative DataFrame plan.

Reference analogue: the index OpenSearch builds when the reference calls
``es.index`` per document (/root/reference/hugo.py:349-355) — term →
postings with term frequencies, document frequencies, document lengths —
re-expressed Spark-first (SURVEY.md §2 B6).

Two planes live here:

- the build's analysis step, :func:`token_relations`: one tokenize
  pass → vocabulary dictionary (stemming on distinct surface forms) →
  encode rows with ``dl`` attached, which ``spimi.build_blocks`` turns
  into compressed blocks.  Every index build (plans/build_index and
  operators/fused) goes through it;
- the uncompressed SQL-parity relations the oracle twins score from::

    docs → tokens (native expr or pandas UDF)
         → explode → groupBy(term, doc_id).count()           [postings]
         → size(tokens) per doc                              [doc_lengths]

Scale notes (100 TB / 10^12 docs):
- the (term, doc_id) groupBy is skew-safe: key cardinality is huge and
  Spark's hash aggregate does map-side partial aggregation, so the Zipf
  head ("the") still distributes across all tasks at this stage;
- nothing here is a UDF except stemming (the english chain's Porter
  stemmer, per distinct surface form in the build, per token in the
  parity plane's :func:`with_tokens`); the simple/stop chains are 100%
  native and stay in WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from docs_indexer_spark.functions.analysis import (
    ANALYZERS,
    ENGLISH_STOPWORDS,
    stop_filter_col,
    tokens_col,
)


def with_tokens(
    docs: DataFrame,
    text_col: str = "text",
    analyzer: str = "english",
    out_col: str = "tokens",
) -> DataFrame:
    """Add an array<string> token column using the named analysis chain.

    ``simple`` / ``stop`` chains are native Column expressions (JVM-side);
    ``english`` (possessive + stopword + Porter) runs as an Arrow-batched
    pandas UDF — the per-token stemmer is the only Python in the build path.
    """
    from docs_indexer_spark.session import spread

    docs = spread(docs)
    if analyzer == "simple":
        return docs.withColumn(out_col, tokens_col(text_col))
    if analyzer == "stop":
        return docs.withColumn(out_col, stop_filter_col(tokens_col(text_col)))

    analyze = ANALYZERS[analyzer]

    @F.pandas_udf(ArrayType(StringType()))
    def _analyze(series):
        return series.map(lambda t: analyze(t) if t is not None else [])

    return docs.withColumn(out_col, _analyze(F.col(text_col)))


class TokenRelations:
    """Result bundle of :func:`token_relations`.

    - ``rows``: the encode rows :func:`spimi.build_blocks` consumes, with
      the post-stopword document length ``dl`` attached —
      ``(term_id, doc_id, dl, pos)`` occurrence rows when built with
      positions, else ``(term_id, doc_id, dl, tf)`` postings;
    - ``dictionary``: ``(raw, term_id, term, cf)`` — every raw surface
      form the index keeps, its analyzed term and raw collection
      frequency.  Its ``(raw, term_id)`` pairs are the published surface
      dictionary the highlighter inverts stems with; Σcf is the
      post-stopword token count (stemming preserves counts).

    The dictionary is persisted (it is read by every action over
    ``rows`` and by the caller); call :meth:`unpersist` once both are
    consumed, or a long-lived session accumulates one per call.
    """

    def __init__(self, rows: DataFrame, dictionary: DataFrame):
        self.rows = rows
        self.dictionary = dictionary

    def unpersist(self) -> None:
        self.dictionary.unpersist()


# surface forms each chain drops (dl does not count them, the dictionary
# omits them).  english is possessive-aware without a per-token regexp:
# strip("'s$") ∈ STOP ⟺ token ∈ STOP ∪ {s+"'s" | s ∈ STOP}
_DROPPED = {
    "english": sorted(ENGLISH_STOPWORDS | {w + "'s" for w in ENGLISH_STOPWORDS}),
    "stop": sorted(ENGLISH_STOPWORDS),
}


def _dropped(analyzer: str):
    """Array literal of the forms ``analyzer`` drops, or None."""
    words = _DROPPED.get(analyzer)
    return F.array(*[F.lit(w) for w in words]) if words else None


def term_dictionary(tokens: DataFrame, analyzer: str) -> DataFrame:
    """(raw, term_id, term, cf) over the ``_toks`` arrays of ``tokens``.

    The analysis chain (possessive strip → stopword filter → Porter stem
    for ``english``) runs on DISTINCT surface forms only — O(|vocab|)
    Python, never O(tokens).  Stopword forms are dropped here, at the
    vocabulary level, so an inner join on the raw form filters their
    occurrences for free.
    """
    rdict = tokens.select(F.explode("_toks").alias("raw")).groupBy("raw").agg(
        F.count(F.lit(1)).alias("cf")
    )
    dropped = _dropped(analyzer)
    if dropped is not None:
        rdict = rdict.filter(~F.array_contains(dropped, F.col("raw")))
    term = F.col("raw")
    if analyzer == "english":
        @F.pandas_udf(StringType())
        def _stem(series):
            from docs_indexer_spark.functions.porter import porter_stem

            return series.map(porter_stem)

        term = _stem(F.regexp_replace(term, "'s$", ""))
    return rdict.withColumn("term", term).select(
        "raw", F.xxhash64("term").alias("term_id"), "term", "cf"
    )


def token_relations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "english",
    positions: bool = False,
) -> TokenRelations:
    """The analysis step of every index build: documents → encode rows +
    vocabulary dictionary, with the Python boundary and the string
    traffic both minimized.

    Stemming every token occurrence in a pandas UDF would be O(total
    tokens) Python calls (10^14 at the 100 TB target) and would drag term
    STRINGS through every shuffle.  Instead:

      tokenize once (native regexp, apostrophe-aware — the exact oracle
                regex for ``english``; the [^a-z0-9]+ split otherwise)
      → dictionary: groupBy(raw) — vocabulary-sized, the partial agg
        collapses the Zipf mass early; possessive strip + stopword filter
        + Porter stem run on it (O(|vocab|) Python in one tiny UDF)
      → explode (posexplode with positions) → broadcast-join the
        dictionary on xxhash64(raw): rid → term_id, stopword forms absent
      → positions: one row per occurrence, ``pos`` its index in the
        analyzed stream BEFORE stopword removal (Lucene position
        increments); the encoder's run length over equal
        (term_id, doc_id) rows is tf, so no position list is ever
        aggregated.  Without positions: one groupBy(term_id, doc_id, dl)
        count — map-side partial aggregation collapses the Zipf head
        before any bytes move, and stem conflation (batch+batches) merges
        here.

    ``dl`` (indexed tokens per doc) is computed once per document before
    the explode and rides each row as a column, so doclens never need a
    separate aggregate or a doc_id-keyed join.  Docs without a single
    indexed token emit no rows.

    64-bit hash collisions (raw-hash or term_id) merge two terms; at a
    10^8 web vocabulary the expected number of collisions is <1 and the
    effect is a slightly blended posting list — the documented trade for
    keeping 10^12-row shuffles string-free.  The dictionary always
    broadcasts: it is vocabulary-sized (16 B per surface form), and a
    build that slices its corpus (plans/build_index) broadcasts one
    slice's vocabulary at a time.
    """
    from docs_indexer_spark.session import spread

    # simple split — the SQL-parity tokenizer (DuckDB twin uses the same
    # [^a-z0-9]+ split) — except for english, which uses the oracle regex
    toks = (
        _tokenize_col(F.col(text_col)) if analyzer == "english"
        else tokens_col(text_col)
    )
    dropped = _dropped(analyzer)
    if analyzer == "stop" and not positions:
        # no position increments to keep: filter the stream up front
        toks, dropped = stop_filter_col(toks), None

    # dl MUST materialize below the explode: a select that combines
    # explode(...) with other expressions plans as Project-over-Generate,
    # i.e. the expression re-evaluates per OCCURRENCE row — the
    # interpreted stopword-filter HOF per token-row was measured at ~25×
    # the whole encode stage.  withColumn + a separate explode-select puts
    # a Generate between the two Projects, so dl computes once per doc.
    tokens = spread(docs, key=id_col).select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    )
    kept = F.col("_toks")
    if dropped is not None:
        kept = F.filter(kept, lambda t: ~F.array_contains(dropped, t))
    tokens = tokens.withColumn("dl", F.size(kept).cast("int"))
    dictionary = term_dictionary(tokens, analyzer).persist()
    rid = F.xxhash64("raw").alias("rid")
    if positions:
        occ = tokens.select(
            "doc_id", "dl", F.posexplode("_toks").alias("pos", "raw")
        ).select("doc_id", "dl", F.col("pos").cast("int").alias("pos"), rid)
    else:
        occ = tokens.select(
            "doc_id", "dl", F.explode("_toks").alias("raw")
        ).select("doc_id", "dl", rid)
    joined = occ.join(
        F.broadcast(dictionary.select(rid, "term_id")), "rid"
    )
    if positions:
        rows = joined.select("term_id", "doc_id", "dl", "pos")
    else:
        rows = joined.groupBy("term_id", "doc_id", "dl").agg(
            F.count(F.lit(1)).cast("int").alias("tf")
        )
    return TokenRelations(rows, dictionary)


def _tokenize_col(text):
    """Standard-ish tokenizer as a native expression — the EXACT pattern
    the oracle's ``tokenize()`` uses (apostrophe-joined latin runs, Hangul
    and Katakana runs, single Han/Hiragana chars; see
    functions/analysis._TOKEN_PATTERN)."""
    from pyspark.sql import functions as F

    from docs_indexer_spark.functions.analysis import _TOKEN_PATTERN

    return F.regexp_extract_all(
        F.lower(F.coalesce(text, F.lit(""))),
        F.lit(_TOKEN_PATTERN),
        0,
    )


def token_postings(tokens_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf) — the uncompressed postings relation."""
    return (
        tokens_df.select(id_col, F.explode("tokens").alias("term"))
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )


def doc_lengths(tokens_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dl) — token count per document (BM25 length norm)."""
    return tokens_df.select(
        id_col, F.size("tokens").cast("int").alias("dl")
    )


def corpus_stats(doclens: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — one tiny driver-side aggregate."""
    row = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


def df_stats(postings: DataFrame) -> DataFrame:
    """(term|term_id, df) — document frequency per term."""
    key = "term_id" if "term_id" in postings.columns else "term"
    return postings.groupBy(key).agg(F.count(F.lit(1)).alias("df"))


def idf_col(df_col, n_docs: int):
    """Lucene ≥8 BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)) — native."""
    return F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5)
    )
