"""Output checks of the curation workload."""

from __future__ import annotations

from perfbench import workloads


def _curation_without_oracles() -> workloads.DeclaredQueries:
    w = workloads.DeclaredQueries(workloads.CURATION)
    w._oracle = dict.fromkeys(workloads.CURATION)
    return w


def test_topk_without_oracle_is_checked_against_its_shape():
    w = _curation_without_oracles()
    cols = ["query_id", "vec_id", "cos_sim"]
    good = [(q, 100 + i, 0.5) for q in range(5) for i in range(10)]
    assert w.check("q_sim_topk_pq", (cols, good)) is None
    # a missing query vector, a repeated neighbour, an empty result
    assert w.check("q_sim_topk_pq", (cols, good[10:])) is not None
    assert w.check("q_sim_topk_pq", (cols, good[:-1] + [good[-2]])) is not None
    assert w.check("q_sim_topk_pq", (cols, [])) is not None


def test_canonical_ignores_row_and_column_order():
    a = workloads.canonical(["x", "y"], [(1, "a"), (2, None)])
    b = workloads.canonical(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert a != workloads.canonical(["x", "y"], [(1, "a"), (2, "b")])
