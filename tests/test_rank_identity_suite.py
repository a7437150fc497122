"""The full reference-style rank-identity suite (FIXTURES.md §2): 60
fixed queries over the 20k-doc "small" corpus, engine top-k vs the
literal pandas oracle — (rank, doc_id, float32 score) all equal,
ordering (score desc, doc_id asc) per HitQueue.java:76-81.

Composition mirrors lucene/benchmark/conf/query-terms.txt style:
20 single-term (common/mid/rare + absent), 20 AND (2-4 clauses, incl.
stopword clauses that analyze away), 10 OR, 5 mixed (a OR b) AND c,
5 with MUST_NOT. k cycles {1, 10, 100}. Term/OR queries are also run
through the block-max WAND path (prune=True) — same assertion. Every
query runs on both access paths: the driver and the Spark plan.
"""

from __future__ import annotations

import pytest

from lucene_solr_spark.analysis import standard_analyze
from lucene_solr_spark.queryast import parse_query


def _analyzer(s):
    return [t for t, _ in standard_analyze(s)]

N_DOCS = 20000

# deterministic query set — composition per FIXTURES.md §2
SINGLE = [
    "import", "def", "class", "return", "if", "for", "while", "public",
    "static", "void",                      # 10 common (keywords)
    "ident010", "ident042", "ident123", "ident300", "ident700",  # 5 mid
    "ident1890", "ident1900", "143",       # 3 rare
    "zzabsent1", "zzabsent2",              # 2 absent -> empty
]
ANDS = [
    "import AND def", "class AND return", "def AND ident042",
    "import AND ident123 AND class", "public AND static AND void",
    "for AND while AND if", "ident010 AND ident042",
    "import AND the",            # stopword clause analyzes away
    "def AND a AND class",       # ditto
    "return AND ident300", "static AND ident700", "void AND ident010",
    "import AND def AND class AND return", "ident123 AND ident300",
    "while AND ident042", "public AND ident1890",
    "import AND 143", "def AND ident1900",
    "class AND void AND ident042", "for AND ident123",
]
ORS = [
    "import OR zzabsent1", "ident010 OR ident042 OR ident123",
    "def OR class", "public OR static OR void", "while OR for",
    "ident1890 OR ident1900", "import OR def OR class",
    "143 OR ident700", "return OR ident300 OR zzabsent2",
    "ident042 OR 143 OR while",
]
MIXED = [
    "(import OR def) AND ident042",
    "(class OR return) AND public",
    "(ident010 OR ident123) AND import",
    "(while OR for) AND ident300",
    "(public OR void) AND def AND class",
]
NOTS = [
    "import -ident042", "def -class", "return -zzabsent1",
    "public -static", "ident010 -import",
]

QUERY_SET = [(q, (1, 10, 100)[i % 3]) for i, q in
             enumerate(SINGLE + ANDS + ORS + MIXED + NOTS)]
assert len(QUERY_SET) == 60


@pytest.fixture(scope="module")
def small_corpus_pdf():
    from lucene_solr_spark.corpus import gen_corpus_pdf

    return gen_corpus_pdf(N_DOCS)


@pytest.fixture(scope="module")
def small_index(spark, small_corpus_pdf, tmp_path_factory):
    from lucene_solr_spark.indexing.builder import build_index

    d = str(tmp_path_factory.mktemp("small_idx") / "idx")
    build_index(spark, d, [("small", spark.createDataFrame(small_corpus_pdf))])
    return d


@pytest.fixture(scope="module")
def small_searcher(spark, small_index):
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    return Searcher(IndexReader(spark, small_index))


@pytest.fixture(scope="module")
def small_oracle(small_corpus_pdf):
    from lucene_solr_spark.oracle import OracleIndex

    return OracleIndex(small_corpus_pdf, analyzer="standard", norms="byte")


def _assert_identical(spark_top, oracle_top, label):
    assert list(spark_top["doc_id"]) == list(oracle_top["doc_id"]), label
    assert list(spark_top["score"]) == list(oracle_top["score"]), label


def _assert_path(searcher, path):
    assert (searcher.last_plan["access_path"] == "driver") == (path == "driver"), \
        searcher.last_plan


@pytest.mark.parametrize("qstring,k", QUERY_SET,
                         ids=[f"{i:02d}_{q[:24]}" for i, (q, _) in enumerate(QUERY_SET)])
def test_suite_rank_identity(small_searcher, small_oracle, qstring, k, access_paths):
    q = parse_query(qstring, analyzer=_analyzer)
    want = small_oracle.top_k(q, k=k)
    for path in access_paths():
        _assert_identical(small_searcher.search(q, k=k), want, f"{path}: {qstring}")
        _assert_path(small_searcher, path)


@pytest.mark.parametrize("qstring", SINGLE[:6] + ORS[:4])
def test_suite_wand_rank_identity(small_searcher, small_oracle, qstring, access_paths):
    q = parse_query(qstring, analyzer=_analyzer)
    want = small_oracle.top_k(q, k=10)
    for path in access_paths():
        _assert_identical(small_searcher.search(q, k=10, prune=True), want,
                          f"{path}: wand:{qstring}")
        _assert_path(small_searcher, path)
