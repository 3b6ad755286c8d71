"""Physical-plan shape of the extractor suite and the parse gate, over the
small real-page fixture: the whole suite, and the job's quads stage with the
mapping cascades, is one narrow pass (no shuffle, one explode), a subset that skips the infobox segment carries no Python UDF, the
per_page stage carries none either, and the parse's namespace gate keeps
its no_pushdown guard through the optimizer."""

import re

import pytest

from kgforge.extractors import fused_quads, run_extractors
from kgforge.parse import prepare

FIXTURE = "tests/fixtures/minidump/corpus.parquet"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.plan_shape
def test_extractor_suite_plan_shape(spark):
    parsed = prepare(spark.read.parquet(FIXTURE))
    fused = _physical(fused_quads(parsed))
    assert len(re.findall(r"\bExchange\b", fused)) == 0, fused
    assert len(re.findall(r"\bGenerate\b", fused)) == 1, fused
    assert "ArrowEvalPython" in fused  # the infobox segment reads `_ib`
    labels = _physical(run_extractors(parsed, ["labels"]))
    assert "ArrowEvalPython" not in labels, labels
    assert len(re.findall(r"\bGenerate\b", labels)) == 1, labels


@pytest.mark.plan_shape
def test_quads_stage_is_one_select_over_the_parse_leaf(spark, monkeypatch):
    """The job's ``quads`` stage, as ``Pipeline.run`` builds it over the
    checkpointed parse: the segments and both mapping cascades in one select,
    so no Union, no Exchange, a single explode and one Python pass that
    runs the infobox, mapping and table cascades (the explode's inferred
    non-empty filter would evaluate them a second time). The ``per_page``
    stage over the same leaves runs no Python at all: the parse mints the
    citation IRIs its cited facts carry."""
    from kgforge.pipeline import Pipeline

    plans = {}
    stage = Pipeline._stage

    def capture(self, name, compute, *args, **kw):
        if name in ("quads", "per_page"):
            plans[name] = _physical(compute())
        return stage(self, name, compute, *args, **kw)

    monkeypatch.setattr(Pipeline, "_stage", capture)
    Pipeline(spark).run(spark.read.parquet(FIXTURE))
    plan = plans["quads"]
    assert not re.findall(r"\bUnion\b", plan), plan
    assert not re.findall(r"\bExchange\b", plan), plan
    assert len(re.findall(r"\bGenerate\b", plan)) == 1, plan
    evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(evals) == 1, plan
    for udf in ("infobox_props_udf", "mapping_udf", "table_udf"):
        assert udf in evals[0], evals[0]
    per_page = plans["per_page"]
    assert "cited_facts" in per_page and "nif_context" in per_page, per_page
    assert "ArrowEvalPython" not in per_page and "BatchEvalPython" not in per_page, per_page


@pytest.mark.plan_shape
def test_wikidata_graph_is_a_union_of_checkpointed_leaves(spark):
    """``wikidata_all_quads`` checkpoints the entity parse and each of its
    seven branches: its plan is a coalesced union of seven leaves, with no
    JSON parse above them."""
    from kgforge.wikidata import wikidata_all_quads

    quads = wikidata_all_quads(spark.read.parquet("tests/fixtures/minidump/wikidata_corpus.parquet"))
    plan = quads._jdf.queryExecution().analyzed()
    text = plan.toString()
    assert "from_json" not in text and "JsonToStructs" not in text, text
    assert plan.nodeName() == "Repartition", text
    leaves = plan.collectLeaves()
    assert leaves.size() == 7, text
    assert all(leaves.apply(i).nodeName() == "LogicalRDD" for i in range(7)), text


def test_no_pushdown_guard_survives_optimizer(spark):
    """caching.no_pushdown ORs an always-false non-deterministic arm onto the
    namespace gate; if a Spark upgrade folds it away, the gate is pushed
    below the fan-out again and this fails."""
    plan = prepare(spark.read.parquet(FIXTURE))._jdf.queryExecution().optimizedPlan().toString()
    filters = [ln for ln in plan.splitlines() if "Filter " in ln]
    assert filters and all("OR (monotonically_increasing_id() < -1)" in ln for ln in filters), plan


@pytest.mark.plan_shape
def test_explain_audit_probes(spark):
    """tools/explain_audit.py's plan probes, in the suite's session: main()
    returns 0 only when every probe holds."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("explain_audit", "tools/explain_audit.py")
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    assert audit.main() == 0
