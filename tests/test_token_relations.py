"""token_relations (distinct-term stemming build path) must produce the
exact same postings/doclens as the per-token pandas-UDF path and the
oracle's analyzer."""

from docs_indexer_spark.functions.analysis import analyze_text
from docs_indexer_spark.operators.postings import (
    doc_lengths,
    token_postings,
    token_relations,
    with_tokens,
)


def _relations(docs, analyzer, positions=False):
    """token_relations resolved through its dictionary:
    ({(term, doc_id): tf or [positions]}, {doc_id: dl})."""
    rel = token_relations(docs, "text", analyzer=analyzer, positions=positions)
    terms = dict(
        rel.dictionary.select("term_id", "term").distinct().collect()
    )
    rows = rel.rows.collect()
    rel.unpersist()
    dl = {r["doc_id"]: r["dl"] for r in rows}
    postings = {}
    for r in rows:
        key = (terms[r["term_id"]], r["doc_id"])
        if positions:
            postings.setdefault(key, []).append(r["pos"])
        else:
            assert key not in postings  # one row per posting
            postings[key] = r["tf"]
    return {k: sorted(v) if positions else v for k, v in postings.items()}, dl


def test_english_relations_match_udf_path(spark, documents):
    docs = documents.select("doc_id", "text")
    fast_postings, fast_dl = _relations(docs, "english")
    toks = with_tokens(docs, "text", "english").select("doc_id", "tokens")
    slow_postings = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in token_postings(toks).collect()
    }
    assert fast_postings == slow_postings

    slow_dl = {
        r["doc_id"]: r["dl"]
        for r in doc_lengths(toks).collect()
        if r["dl"] > 0  # docs without indexed tokens emit no encode rows
    }
    assert fast_dl == slow_dl


def test_english_relations_match_oracle_analyzer(spark):
    rows = [
        (0, "The dog's bones are running quickly"),
        (1, "Don't stop-me now, 42nd batches batching batch"),
        (2, ""),
        (3, "the and of"),  # stopword-only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got, dl = _relations(docs, "english")
    want = {}
    for doc_id, text in rows:
        for t in analyze_text(text, "english"):
            want[(t, doc_id)] = want.get((t, doc_id), 0) + 1
    assert got == want
    # row 1: don't/stop/me/now/42nd/batches/batching/batch = 8 tokens
    assert dl == {0: 4, 1: 8}


def test_stop_relations_match_simple_split(spark):
    docs = spark.createDataFrame(
        [(0, "The quick don't brown fox")], "doc_id long, text string"
    )
    postings, _ = _relations(docs, "stop")
    terms = {t for t, _ in postings}
    # simple split (SQL-parity): apostrophe breaks the token
    assert terms == {"quick", "don", "t", "brown", "fox"}


def test_stop_positions_keep_increments(spark):
    """The stop chain's occurrence rows index the UNFILTERED token stream:
    a removed stopword still advances positions (Lucene position
    increments), while dl counts only the indexed tokens."""
    docs = spark.createDataFrame(
        [(0, "merge the sort"), (1, "the the merge")], "doc_id long, text string"
    )
    postings, dl = _relations(docs, "stop", positions=True)
    assert postings == {
        ("merge", 0): [0], ("sort", 0): [2], ("merge", 1): [2],
    }
    assert dl == {0: 2, 1: 1}


def test_python_xxh64_matches_spark(spark):
    """The driver-side XXH64 must equal Spark's xxhash64 bit-for-bit —
    over the whole corpus vocabulary plus length/unicode edge cases —
    because query paths hash terms to term_ids with it."""
    from pyspark.sql import functions as F

    from docs_indexer_spark.functions.analysis import tokens_col
    from docs_indexer_spark.functions.xxh import spark_xxhash64_str

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    vocab = [
        r["t"]
        for r in docs.select(
            F.explode(tokens_col("text")).alias("t")
        ).distinct().collect()
    ]
    edge = ["", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh",
            "x" * 31, "x" * 32, "x" * 33, "x" * 100,
            "héllo wörld", "한국어 텍스트", "カタカナ", "混合 mixed 123"]
    tests = vocab + edge
    rows = spark.createDataFrame([(t,) for t in tests], "t string").select(
        "t", F.xxhash64("t").alias("h")
    ).collect()
    for r in rows:
        assert spark_xxhash64_str(r["t"]) == r["h"], r["t"]
