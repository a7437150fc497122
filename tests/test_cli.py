"""CLI end-to-end: index -> stats -> search -> count -> delete -> merge
through `python -m lucene_solr_spark` subprocesses (one per command, a
fresh SparkSession each — exactly how a user drives it)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

# the checkout under test: the CLI subprocesses must import this tree's
# package, whichever directory it was checked out to
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENV = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_DRIVER_MEM="4g",
           PYTHONPATH=os.pathsep.join(
               [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]))


def run_cli(*argv):
    r = subprocess.run(
        [sys.executable, "-m", "lucene_solr_spark", *argv],
        capture_output=True, text=True, cwd=ROOT, env=ENV, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_cli_workflow(tmp_path, tiny_corpus_pdf):
    corpus = str(tmp_path / "corpus.parquet")
    tiny_corpus_pdf.to_parquet(corpus, index=False)
    idx = str(tmp_path / "idx")

    out = run_cli("index", "--corpus", corpus, "--index", idx, "--batch", "b0")
    assert out["docs"] == len(tiny_corpus_pdf)

    st = run_cli("stats", "--index", idx)
    assert st["docs"] == len(tiny_corpus_pdf) and st["segments"]

    hits = run_cli("search", "--index", idx, "--query", "import AND def", "-k", "5")
    assert 0 < len(hits["hits"]) <= 5
    assert hits["hits"][0]["rank"] == 1

    wand = run_cli("search", "--index", idx, "--query", "import", "--wand")
    plain = run_cli("search", "--index", idx, "--query", "import")
    assert [h["doc_id"] for h in wand["hits"]] == [h["doc_id"] for h in plain["hits"]]

    n = run_cli("count", "--index", idx, "--query", "ident007")["count"]
    assert n > 0
    deleted = run_cli("delete", "--index", idx, "--terms", "ident007")["deleted"]
    assert deleted == n
    assert run_cli("count", "--index", idx, "--query", "ident007")["count"] == 0

    merged = run_cli("merge", "--index", idx, "--force", "1")
    assert merged["segments"] == 1
    assert merged["docs"] == len(tiny_corpus_pdf) - deleted


def test_cli_multifield_and_check_inprocess(spark, tmp_path, tiny_corpus_pdf, capsys):
    """The new subcommands (multi-field index, default-field search,
    field delete, check) driven in-process — getOrCreate reuses the
    test session, so no subprocess JVM per command."""
    from lucene_solr_spark.__main__ import main

    corpus = str(tmp_path / "c.parquet")
    tiny_corpus_pdf.to_parquet(corpus, index=False)
    idx = str(tmp_path / "mfidx")

    def run(*argv):
        assert main(list(argv)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out = run("index", "--corpus", corpus, "--index", idx, "--batch", "b0",
              "--fields", "body:content:standard,lang:lang:keyword")
    assert out["docs"] == len(tiny_corpus_pdf)

    hits = run("search", "--index", idx, "--query", "import",
               "--default-field", "body", "-k", "5")
    assert len(hits["hits"]) == 5

    langval = tiny_corpus_pdf["lang"].iloc[0]
    hits2 = run("search", "--index", idx, "--query", f"lang:{langval}", "-k", "3")
    assert len(hits2["hits"]) > 0

    rep = run("check", "--index", idx)
    assert rep["clean"] is True

    deleted = run("delete", "--index", idx, "--terms", langval, "--field", "lang")
    assert deleted["deleted"] == int((tiny_corpus_pdf["lang"] == langval).sum())

    rep2 = run("check", "--index", idx, "--fast")
    assert rep2["clean"] is True


def test_cli_rejects_bad_fields_spec(spark, tmp_path, tiny_corpus_pdf):
    from lucene_solr_spark.__main__ import main

    corpus = str(tmp_path / "c2.parquet")
    tiny_corpus_pdf.to_parquet(corpus, index=False)
    with pytest.raises(SystemExit, match="bad spec"):
        main(["index", "--corpus", corpus, "--index", str(tmp_path / "x"),
              "--fields", "a:b:c:d"])


def test_cli_index_sort_and_sorted_head(spark, tmp_path, tiny_corpus_pdf, capsys):
    """--index-sort build + sorted-head subcommand in-process."""
    import json

    from lucene_solr_spark.__main__ import main

    corpus = str(tmp_path / "c3.parquet")
    tiny_corpus_pdf.to_parquet(corpus, index=False)
    idx = str(tmp_path / "sidx")

    def run(*argv):
        assert main(list(argv)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    run("index", "--corpus", corpus, "--index", idx, "--batch", "b0",
        "--index-sort", "lang,repo,path")
    out = run("sorted-head", "--index", idx, "-k", "4")
    assert out["index_sort"] == ["lang", "repo", "path"]
    assert len(out["rows"]) == 4
    want = (tiny_corpus_pdf.sort_values(["lang", "repo", "path"])
            .head(4)[["repo", "path"]].values.tolist())
    got = [[r["repo"], r["path"]] for r in out["rows"]]
    assert got == want


def test_cli_similarity_and_background_merge(spark, tmp_path, tiny_corpus_pdf, capsys):
    """search --sim (pluggable Similarity over the segment index) and
    merge --background (ConcurrentMergeScheduler) in-process."""
    from lucene_solr_spark.__main__ import main

    corpus = str(tmp_path / "c.parquet")
    tiny_corpus_pdf.to_parquet(corpus, index=False)
    idx = str(tmp_path / "simidx")

    def run(*argv):
        assert main(list(argv)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    half = len(tiny_corpus_pdf) // 2
    c1 = str(tmp_path / "c1.parquet")
    c2 = str(tmp_path / "c2.parquet")
    tiny_corpus_pdf.iloc[:half].to_parquet(c1, index=False)
    tiny_corpus_pdf.iloc[half:].to_parquet(c2, index=False)
    run("index", "--corpus", c1, "--index", idx, "--batch", "b0")
    run("index", "--corpus", c2, "--index", idx, "--batch", "b1")

    hits = run("search", "--index", idx, "--query", "import",
               "--sim", "lm_dirichlet", "-k", "5")
    assert hits["similarity"] == "lm_dirichlet"
    assert 0 < len(hits["hits"]) <= 5
    assert hits["hits"][0]["score"] > 0

    # background merge drains before exit; doc totals preserved
    merged = run("merge", "--index", idx, "--background", "2")
    assert merged["docs"] == len(tiny_corpus_pdf)
