"""A composed query calls its components, never a copy of them: it
reaches each one through the registry (``_Q["name"]``) or through a
helper that the component's own builder calls too, so the two cannot
drift apart. Checked on the builders' source, without a session."""

from __future__ import annotations

import ast
import inspect
import textwrap

import pytest

from etl_pipeline_sam_gov_spark import QUERIES

#: Composed query -> {component query: how the composed builder reaches
#: it}: "_Q" for a registry lookup, otherwise the shared helper that
#: both builders call.
COMPOSED = {
    "pipeline_health_report": {
        "dq_constraint_suite": "_Q",
        "dq_missing_hours_report": "_Q",
        "dq_referential_orphans": "_Q",
    },
    "pipeline_experiment_report": {
        "ab_srm_check": "_Q",
        "ab_test_proportions": "_Q",
        "ab_mann_whitney_u": "_Q",
        "ab_sequential_sprt": "_Q",
        "ab_bayesian_beta_binomial": "_Q",
    },
    "pipeline_training_corpus_v2": {
        "text_quality_classifier": "quality_logit",
        "curate_temperature_resample": "_temperature_keep",
        "dedup_semantic_clusters": "semantic_keep",
    },
    "retrieval_hybrid_rrf": {
        "text_bm25_retrieval": "_bm25_ranked",
        "ann_bruteforce_topk": "with_norms",
    },
    "ml_classifier_scorecard": {"ml_confusion_matrix_langid": "_Q"},
    "reco_eval_coverage_novelty": {"reco_item_lift": "_Q"},
    "curate_ess_diagnostics": {"curate_dsir_importance": "_Q"},
    "retrieval_ndcg_eval": {"text_bm25_retrieval": "_Q"},
    "retrieval_mrr_eval": {"text_bm25_retrieval": "_Q"},
}

CASES = [(q, c, via) for q, parts in COMPOSED.items() for c, via in parts.items()]


def _uses(name: str) -> tuple[set, set]:
    """The queries that ``name``'s builder looks up in the registry and
    the names of the functions it calls."""
    fn = inspect.unwrap(QUERIES[name])
    looked_up, called = set(), set()
    for node in ast.walk(ast.parse(textwrap.dedent(inspect.getsource(fn)))):
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Name)
            and node.value.id == "_Q"
            and isinstance(node.slice, ast.Constant)
        ):
            looked_up.add(node.slice.value)
        elif isinstance(node, ast.Call):
            f = node.func
            called.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", None))
    return looked_up, called


@pytest.mark.parametrize(
    "composed,component,via", CASES, ids=[f"{q}-{c}" for q, c, _ in CASES]
)
def test_composed_query_calls_its_component(composed, component, via):
    looked_up, called = _uses(composed)
    if via == "_Q":
        assert component in looked_up
    else:
        assert via in called, f"{composed} does not call {via}"
        assert via in _uses(component)[1], f"{component} does not call {via}"


def test_every_registry_lookup_is_listed():
    """A new query that looks a component up in the registry is listed
    in COMPOSED, so its other components are checked too."""
    found = {(q, c) for q in QUERIES for c in _uses(q)[0]}
    listed = {(q, c) for q, c, via in CASES if via == "_Q"}
    assert found == listed
