"""Evaluation harness tests (reference tests/test_evaluation.py semantics:
metric bounds, report generation)."""

from __future__ import annotations

from medical_doc_knowledge_graph_system_spark.evaluation import (
    evaluate,
    render_report,
    write_report,
)


def test_evaluate_gates_pass(spark, warehouse50, pages50, tmp_path):
    root, _ = warehouse50
    m = evaluate(spark, root, pages50)
    assert m["gates"]["byte_identity_exact"] and m["gates"]["pr_at_least_0_95"]
    assert m["triple_precision"] == 1.0 and m["triple_recall"] == 1.0
    assert 0.0 <= m["confidence_mean"] <= 1.0 and m["confidence_std_samp"] >= 0.0
    assert sum(m["nodes_by_label"].values()) > 0

    report = render_report(m)
    assert "PASS" in report and "| label | nodes |" in report

    jp, mp = str(tmp_path / "r.json"), str(tmp_path / "r.md")
    write_report(m, jp, mp)
    import json
    import os

    assert json.load(open(jp))["triple_recall"] == 1.0
    assert os.path.getsize(mp) > 100


def test_evaluate_sampled_above_max_pages(spark, warehouse50, pages50):
    """Above max_pages the harness url-hash-samples both sides with the
    identical md5-threshold rule, so gates still hold on the subset and no
    full-table collect happens on a large warehouse."""
    root, _ = warehouse50
    m = evaluate(spark, root, pages50, max_pages=20)
    assert m["sampled"] is True
    assert 0 < m["n_pages"] < 50          # deterministic hash subset
    assert m["gates"]["byte_identity_exact"] and m["gates"]["pr_at_least_0_95"]
    # same call is deterministic (hash sampling, not rand())
    m2 = evaluate(spark, root, pages50, max_pages=20)
    assert m2["n_pages"] == m["n_pages"]
    assert m2["n_triples_distinct"] == m["n_triples_distinct"]


def test_soap_strategy_pipeline(spark):
    """End-to-end with the SOAP chunking strategy over note-shaped pages."""
    from medical_doc_knowledge_graph_system_spark.operators.chunk import chunk_pages
    from medical_doc_knowledge_graph_system_spark.operators.extract import (
        chunk_features,
        triple_rows,
    )
    from tests.test_soap_chunker import FIXTURE

    pages = spark.createDataFrame(
        [("note1", FIXTURE), ("note2", FIXTURE.replace("Peter Fern", "Aiko Tanaka"))],
        "url string, text string",
    )
    chunks = chunk_pages(pages, strategy="soap")
    rows = chunks.collect()
    assert {r.section for r in rows} == {"Subjective", "Objective", "Assessment", "Plan"}
    triples = triple_rows(chunk_features(chunks)).collect()
    preds = {t.pred for t in triples}
    # Subjective chunk: Patient + Hypertension (via HTN alias) + symptoms
    assert {"HAS_CONDITION", "EXHIBITS_SYMPTOM", "MANIFESTS_AS"} <= preds
