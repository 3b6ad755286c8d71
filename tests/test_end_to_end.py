"""End-to-end regression: engine quads vs the independent golden oracle
(the minidump-regression analog — SURVEY.md §3.3 / §5). P/R must be 1.0 on
the synthetic corpus; the shipped criterion is ≥ 0.95."""

import pytest
from pyspark.sql import functions as F

from kgforge import corpus as C
from kgforge.compare import diff_by_dataset, quad_pr
from kgforge.pipeline import run_pipeline

N = 200


@pytest.fixture(scope="module")
def graph(spark):
    corpus = C.generate_corpus_df(spark, N, partitions=4)
    return run_pipeline(spark, corpus).cache()


@pytest.fixture(scope="module")
def golden(spark):
    return C.golden_df(spark, N).cache()


def test_pr_is_perfect(graph, golden):
    pr = quad_pr(graph, golden)
    assert pr.precision >= 0.999 and pr.recall >= 0.999, str(pr)


def test_every_dataset_present(graph, golden):
    got = {r[0] for r in graph.select("dataset").distinct().collect()}
    want = {r[0] for r in golden.select("dataset").distinct().collect()}
    assert want <= got, f"missing datasets: {want - got}"


def test_transitive_redirects_closed(graph, golden):
    g = golden.filter(F.col("dataset") == "transitive_redirects")
    e = graph.filter(F.col("dataset") == "transitive_redirects")
    pr = quad_pr(e, g)
    assert pr.precision == 1.0 and pr.recall == 1.0, str(pr)


def test_no_dataset_diff(graph, golden):
    missing, extra = diff_by_dataset(graph, golden)
    assert missing.count() == 0, missing.collect()
    assert extra.count() == 0, extra.collect()


def test_content_sha_invariant(spark):
    """Per-row invariant: content sha256 carried through the parse stage
    unchanged (BASELINE.json input_hint)."""
    from kgforge.parse import prepare

    corpus = C.generate_corpus_df(spark, 50, partitions=2)
    parsed = prepare(corpus)
    bad = parsed.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
    assert bad == 0

