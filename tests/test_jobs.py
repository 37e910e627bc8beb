"""spark-submit jobs, run in-process: build_index_job writes the
queryable index at --out, query_job answers through the facade, and a
re-submitted build is a sealed-stage no-op."""

import importlib.util
import json
import os

from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

JOBS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
QUERIES = [["static", "void", "main"], ["return", "self"], ["var7", "hash"]]


def _job(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(JOBS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6),
         round(r["probability"], 6))
        for r in df.collect()
    )


def _sealed_state(path):
    """meta.json + every stage marker, by file name."""
    files = [path / "meta.json", *sorted((path / "_stages").iterdir())]
    return {f.name: f.read_text() for f in files}


def test_build_then_query_job_roundtrip(spark, tmp_path, capsys):
    build, query = _job("build_index_job"), _job("query_job")
    idx_dir = tmp_path / "idx"
    idx = str(idx_dir)
    assert build.main(["--synthesize", "300", "--out", idx, "--base-rate", "auto"]) == 0
    meta = json.loads((idx_dir / "meta.json").read_text())
    assert meta["n_docs"] == 300 and meta["transform"]["alpha"] is not None

    qfile = tmp_path / "q.txt"
    qfile.write_text("\n".join(" ".join(q) for q in QUERIES) + "\n")
    res = str(tmp_path / "res")
    argv = ["--index", idx, "--queries", str(qfile), "--out", res]
    assert query.main(argv) == 0
    # the job prints the router's decision record to stderr
    line = [ln for ln in capsys.readouterr().err.splitlines() if ln.startswith("route ")]
    route = json.loads(line[-1][len("route "):])
    assert route["decision"] == "exhaustive" and route["floor_source"] == "default"
    assert route["k"] == 10 and route["n_queries"] == len(QUERIES)
    got = _rows(spark.read.parquet(res))
    expected = _rows(
        BayesianBM25SparkScorer.from_saved(spark, idx).retrieve(QUERIES, k=10)
    )
    assert got and got == expected

    # re-submission: every stage is sealed, nothing is rewritten
    before = _sealed_state(idx_dir)
    assert set(before) == {"meta.json", "docs.json", "index.json"}
    assert build.main(["--synthesize", "300", "--out", idx, "--base-rate", "auto"]) == 0
    assert _sealed_state(idx_dir) == before
    assert query.main(argv) == 0
    assert _rows(spark.read.parquet(res)) == got


def test_build_job_assigns_dense_ids_to_a_corpus_without_doc_id(spark, tmp_path):
    """A --corpus without doc_id gets dense ids 0..n-1 from
    zip_with_index_docs; the docs stage tokenizes its content once."""
    from bayesian_bm25_js_spark.sources.corpus import synthesize_code_corpus

    n = 60
    corpus = str(tmp_path / "corpus")
    synthesize_code_corpus(spark, n).drop("doc_id").repartition(3).write.parquet(corpus)
    idx_dir = tmp_path / "idx"
    assert _job("build_index_job").main(["--corpus", corpus, "--out", str(idx_dir)]) == 0
    docs = spark.read.parquet(str(idx_dir / "docs"))
    assert docs.columns == ["doc_id", "tokens"]
    assert sorted(r["doc_id"] for r in docs.collect()) == list(range(n))
    assert json.loads((idx_dir / "meta.json").read_text())["n_docs"] == n
