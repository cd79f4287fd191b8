"""Damerau-OSA fuzzy plane: distance semantics, SymSpell serving path,
expansion caps, and MLT parameter fidelity.

Reference semantics: OpenSearch ``match`` with ``fuzziness`` (default
``transpositions: true``) over the index the reference creates
(/root/reference/common.py:4-31, queried by test/integrationtest.sh:19);
OpenSearch MLT defaults max_query_terms=25 / min_term_freq=2 /
min_doc_freq=5.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from docs_indexer_spark.functions.fuzzy import osa_distance
from tests.conftest import on_both_routes


def test_osa_distance_semantics():
    """Transpositions count ONE edit (the round-3 verdict case), OSA
    restriction holds (no re-edit of a transposed pair), plain edits
    match Levenshtein."""
    assert osa_distance("spakr", "spark") == 1          # transposition
    assert osa_distance("spark", "spakr") == 1          # symmetric
    assert osa_distance("window", "winodw") == 1        # transposition
    assert osa_distance("window", "windoq") == 1        # substitution
    assert osa_distance("spark", "spark") == 0
    assert osa_distance("", "abc") == 3 and osa_distance("abc", "") == 3
    assert osa_distance("ca", "abc") == 3               # OSA (Damerau: 2)
    assert osa_distance("abcdef", "badcfe") == 3        # 3 transpositions
    assert osa_distance("kitten", "sitting") == 3       # pure Levenshtein
    # cap: early exit returns cap+1, never an under-estimate
    assert osa_distance("completely", "different", cap=1) == 2
    assert osa_distance("spakr", "spark", cap=1) == 1


def test_osa_matches_duckdb_damerau_at_distance_one():
    """The driver-gate oracle uses DuckDB damerau_levenshtein (the
    UNRESTRICTED variant); at the gate's fuzziness=1 the ≤1 predicate
    must agree with OSA on every pair — pinned over a random pool of
    short strings (where the variants could plausibly diverge)."""
    import random

    import duckdb

    rng = random.Random(42)
    alphabet = "abcde"
    pool = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
        for _ in range(80)
    ]
    con = duckdb.connect()
    for a in pool[:40]:
        for b in pool[40:]:
            duck = con.execute(
                "SELECT damerau_levenshtein(?, ?)", [a, b]
            ).fetchone()[0]
            assert (osa_distance(a, b) <= 1) == (duck <= 1), (a, b)


@pytest.fixture(scope="module")
def fuzzy_index(spark, tmp_path_factory):
    """Published index (stop analyzer) over the first 200 sf0.001 docs —
    shared by the serving-path tests below."""
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 200)
    cat = SnapshotCatalog(str(tmp_path_factory.mktemp("wh") / "wh_fz"))
    build_index(spark, docs, cat, fingerprint="fp-fz", id_col="doc_id",
                n_build_partitions=1, analyzer="stop")
    return cat, docs


def test_search_fuzzy_transposition_via_symspell(
    spark, fuzzy_index, monkeypatch
):
    """A transposed misspelling must return EXACTLY the hits of the
    correctly spelled query — through the published deletion index, with
    no vocabulary levenshtein scan in the candidate plan."""
    import os

    from docs_indexer_spark.plans.query import IndexReader

    cat, _ = fuzzy_index
    gen = cat.generation_path("index")
    assert os.path.exists(os.path.join(gen, "deletions.parquet"))

    reader = IndexReader(spark, cat)
    for _ in on_both_routes(monkeypatch):
        want = [(r["doc_id"], round(r["score"], 9))
                for r in reader.search("window", k=5).collect()]
        got = [(r["doc_id"], round(r["score"], 9))
               for r in reader.search_fuzzy("winodw", k=5).collect()]
        assert got == want and got, "transposition must match at fuzziness 1"

    # plan audit: the SymSpell candidate probe reads ONLY
    # deletions.parquet, through the variant filter, on the driver — it
    # starts no Spark job, so it neither scans df_stats nor runs
    # levenshtein anywhere
    from docs_indexer_spark.operators.suggest import _deletion_variants
    from docs_indexer_spark.plans import query

    dels = reader._deletions
    root = os.path.join(gen, "deletions.parquet")
    assert dels.files and all(f.startswith(root) for f in dels.files)
    reads, opened = [], []

    class Recording:
        def terms(self, variants):
            reads.append(list(variants))
            return dels.terms(variants)

    def parquet_file(path, **kwargs):
        opened.append(path)
        return pq_file(path, **kwargs)

    pq_file = query.pq.ParquetFile
    reader._deletions = Recording()
    sc = spark.sparkContext
    sc.setJobGroup("fuzzy-candidate-audit", "candidate probe")
    try:
        with monkeypatch.context() as m:
            m.setattr(query.pq, "ParquetFile", parquet_file)
            cands = reader._fuzzy_candidates(["winodw"], 1)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("fuzzy-candidate-audit") == []
    assert len(reads) == 1
    assert set(reads[0]) == set(_deletion_variants("winodw", 1))
    assert opened and all(f in dels.files for f in opened)
    assert "window" in {term for term, _, _ in cands}
    reader._deletions = dels
    reader.close()


def test_deletions_published_in_small_sorted_row_groups(spark, tmp_path):
    """build_index.write_deletions publishes 16 range files of (variant,
    term) rows sorted by variant, cut into row groups of
    ~DELETION_ROW_GROUP_BYTES whose variant ranges follow each other; its
    rows are the vocabulary's deletion index, and a probe reads them back.
    The vocabulary is 8,000 random words (the test corpora's tables fit
    in one row group)."""
    import glob
    import os
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from docs_indexer_spark.operators.suggest import (
        _deletion_variants,
        deletion_index,
    )
    from docs_indexer_spark.plans.build_index import write_deletions
    from docs_indexer_spark.plans.query import DeletionIndex

    rng = random.Random(7)
    words = sorted({
        "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(4, 9)))
        for _ in range(8000)
    })
    vocab = spark.createDataFrame(
        [(w, 1 + i % 5) for i, w in enumerate(words)], "term string, df long"
    )
    path = str(tmp_path / "deletions.parquet")
    write_deletions(vocab, path)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) == 16
    rows, spans = [], []
    for f in files:
        pf = pq.ParquetFile(f)
        assert pf.schema_arrow == pa.schema(
            [("variant", pa.string()), ("term", pa.string())]
        )
        t = pf.read()
        variants = t.column("variant").to_pylist()
        assert variants == sorted(variants)
        rows += zip(variants, t.column("term").to_pylist())
        md = pf.metadata
        spans += [
            (md.row_group(i).column(0).statistics.min,
             md.row_group(i).column(0).statistics.max)
            for i in range(md.num_row_groups)
        ]
    assert all(a_hi <= b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))
    assert len(spans) >= 4 * len(files), len(spans)
    want = deletion_index(
        vocab.select("term", F.col("df").alias("cf")), max_edits=2
    ).select("variant", "term").collect()
    assert sorted(rows) == sorted(map(tuple, want))
    probe = _deletion_variants(words[100], 1)
    assert sorted(DeletionIndex(path).terms(probe)) == sorted(
        t for v, t in rows if v in set(probe)
    )


def test_search_fuzzy_fallback_without_deletion_index(
    spark, fuzzy_index, monkeypatch
):
    """Generations published before deletions.parquet existed fall back
    to a threshold-Levenshtein-bounded df_stats scan + the same OSA
    verify — results identical to the SymSpell path."""
    import os
    import shutil
    import tempfile

    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    cat, _ = fuzzy_index
    # clone the warehouse minus the deletion index
    clone = tempfile.mkdtemp(prefix="wh_nodel_")
    shutil.copytree(cat.root, clone, dirs_exist_ok=True)
    cat2 = SnapshotCatalog(clone)
    gen2 = cat2.generation_path("index")
    shutil.rmtree(os.path.join(gen2, "deletions.parquet"))

    r1 = IndexReader(spark, cat)
    r2 = IndexReader(spark, cat2)
    for _, q in itertools.product(
        on_both_routes(monkeypatch), ["winodw", "windoq", "zzzzqqqq"]
    ):
        a = [(r["doc_id"], round(r["score"], 9))
             for r in r1.search_fuzzy(q, k=5).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in r2.search_fuzzy(q, k=5).collect()]
        assert a == b, q
    r1.close()
    r2.close()
    shutil.rmtree(clone)


def test_expansion_caps(spark, fuzzy_index, monkeypatch):
    """Lucene max_expansions (default 50): a short prefix expands to the
    top-df terms only — the expansion a 10⁸-term vocabulary would
    otherwise flood the driver with is capped BEFORE the collect."""
    from docs_indexer_spark.plans.query import IndexReader

    cat, _ = fuzzy_index
    reader = IndexReader(spark, cat)
    # the single top-df s-term, found independently
    top = (
        reader.df_stats.filter(F.col("term").startswith("s"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(1)
        .collect()[0]["term"]
    )
    for _ in on_both_routes(monkeypatch):
        capped = [(r["doc_id"], round(r["score"], 9))
                  for r in reader.search_prefix("s", k=5,
                                                max_expansions=1).collect()]
        single = [(r["doc_id"], round(r["score"], 9))
                  for r in reader.search(top, k=5).collect()]
        assert capped == single and capped
        # uncapped expands wider → different (or equal) result set, but
        # must not error; and fuzzy accepts the cap parameter too
        assert reader.search_prefix("s", k=5).count() == 5
        assert reader.search_fuzzy(
            "winodw", k=3, max_expansions=1
        ).count() == 3
    reader.close()


def test_mlt_parameter_fidelity(spark, fuzzy_index, monkeypatch):
    """OpenSearch MLT knobs: min_term_freq drops seed-rare terms,
    min_doc_freq drops corpus-rare terms, max_query_terms caps the query
    set.  Defaults (25/2/5) must behave like OpenSearch — permissive
    settings recover the old max_terms=5 behavior."""
    from docs_indexer_spark.plans.query import IndexReader

    cat, docs = fuzzy_index
    reader = IndexReader(spark, cat)
    for _ in on_both_routes(monkeypatch):
        # permissive = the pre-round-4 shape (top-5 tf·idf, no df floors)
        rows = reader.more_like_this(
            7, docs, k=10, max_query_terms=5, min_term_freq=1, min_doc_freq=1
        ).collect()
        assert len(rows) == 10 and 7 not in {r["doc_id"] for r in rows}
        # defaults: still non-empty on a natural corpus, seed excluded
        drows = reader.more_like_this(7, docs, k=10).collect()
        assert drows and 7 not in {r["doc_id"] for r in drows}
        # min_term_freq high enough to kill every term → empty, not error
        assert reader.more_like_this(
            7, docs, k=10, min_term_freq=10**6
        ).count() == 0
        # min_doc_freq high enough to kill every term → empty, not error
        assert reader.more_like_this(
            7, docs, k=10, min_doc_freq=10**6
        ).count() == 0
    reader.close()


def test_osa_properties_hypothesis():
    """Property sweep (pure python, no Spark): symmetry, the
    Levenshtein sandwich OSA ≤ lev ≤ 2·OSA, and identity-of-
    indiscernibles over random short strings."""
    import random

    rng = random.Random(11)
    alphabet = "abcd"

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for _ in range(300):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
        d = osa_distance(a, b)
        assert d == osa_distance(b, a)
        assert (d == 0) == (a == b)
        lv = lev(a, b)
        assert d <= lv <= 2 * d or (d == lv == 0)


def test_symspell_deletion_neighborhoods_complete_for_osa():
    """The SymSpell candidate join is OSA-COMPLETE: whenever
    OSA(a, b) ≤ d, the depth-d deletion neighborhoods of a and b
    intersect (transpositions included — drop either swapped char from
    both sides).  This is the property that lets search_fuzzy replace a
    vocabulary scan with an equi-join without losing matches."""
    import random

    from docs_indexer_spark.operators.suggest import _deletion_variants

    rng = random.Random(23)
    alphabet = "abcde"

    def mutate(w):
        ops = []
        if w:
            i = rng.randrange(len(w))
            ops += [
                w[:i] + w[i + 1:],                       # delete
                w[:i] + rng.choice(alphabet) + w[i + 1:],  # substitute
            ]
            if i + 1 < len(w):
                ops.append(w[:i] + w[i + 1] + w[i] + w[i + 2:])  # transpose
        i = rng.randrange(len(w) + 1)
        ops.append(w[:i] + rng.choice(alphabet) + w[i:])  # insert
        return rng.choice(ops)

    checked = 0
    for _ in range(400):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 7)))
        b = mutate(a) if rng.random() < 0.5 else mutate(mutate(a))
        for d in (1, 2):
            if osa_distance(a, b, cap=d) <= d:
                na = set(_deletion_variants(a, d))
                nb = set(_deletion_variants(b, d))
                assert na & nb, (a, b, d)
                checked += 1
    assert checked > 300  # the sweep actually exercised the property


def test_driver_term_table_equals_df_stats(spark, fuzzy_index):
    """The reader's driver-side (term_id, df) arrays answer every
    vocabulary term of the published index with its df_stats row, keyed
    by the driver-side xxhash64 of the term; an unindexed term gets no
    entry."""
    from docs_indexer_spark.functions.xxh import spark_xxhash64_str
    from docs_indexer_spark.plans.query import IndexReader

    cat, _ = fuzzy_index
    reader = IndexReader(spark, cat)
    rows = reader.df_stats.collect()
    want = {int(r["term_id"]): int(r["df"]) for r in rows}
    assert len(want) == len(rows) > 0
    assert reader._dfs(spark_xxhash64_str(r["term"]) for r in rows) == want
    assert reader._idf_df(sorted(r["term"] for r in rows))[1] == want
    assert reader._idf_df(["zzqxv"]) == ({}, {})
    reader.close()


@pytest.mark.parametrize("fuzziness", [1, 2])
def test_fuzzy_candidates_equal_osa_recomputation(spark, fuzzy_index, fuzziness):
    """For 20 misspelled words, the OSA-verified candidates of the
    deletion-index probe equal a brute-force recomputation over the
    whole df_stats vocabulary — same terms, term ids and dfs."""
    import random

    from docs_indexer_spark.plans.query import IndexReader

    cat, _ = fuzzy_index
    reader = IndexReader(spark, cat)
    vocab = sorted(
        (r["term"], int(r["term_id"]), int(r["df"]))
        for r in reader.df_stats.collect()
    )
    rng = random.Random(fuzziness)
    stems = [v[0] for v in vocab if len(v[0]) >= 3]
    words = []
    for i in range(20):
        term = rng.choice(stems)
        j = rng.randrange(len(term) - 1)
        words.append([
            term[:j] + term[j + 1] + term[j] + term[j + 2:],  # transpose
            term[:j] + "q" + term[j + 1:],                     # substitute
            term[:j] + term[j + 1:],                           # delete
            term[:j] + "x" + term[j:],                         # insert
        ][i % 4])
    matched = 0
    for w in words:
        want = {
            v for v in vocab if osa_distance(v[0], w, cap=fuzziness) <= fuzziness
        }
        got = {
            c for c in reader._fuzzy_candidates([w], fuzziness)
            if osa_distance(c[0], w, cap=fuzziness) <= fuzziness
        }
        assert got == want, w
        matched += bool(want)
    assert matched == len(words)
    reader.close()
