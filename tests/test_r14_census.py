"""Round-14 census: per-group collected-state boundedness.

``collect_list`` / ``collect_set`` (and their window forms) buffer a
whole group's elements in ONE aggregation buffer — the class of
operator that is safe exactly when the group (or frame) is bounded by
construction, and an executor-OOM landmine at 100 TB when it is
data-scaled.  This census walks the engine's AST and asserts every
call site is in the justified allowlist below, so a future key that
collects over an unbounded group fails this test instead of shipping.

Bound classes:
- vocab: the collected domain is a bounded vocabulary (event types,
  order statuses).
- frame: a bounded window frame (moving k rows) or rpos<=k pre-filter.
- grid: the group is a bounded calendar/value grid (days, cents
  buckets, 5x5 pair grids, PQ codebooks, 64 dims, <=10 labels,
  SHARD_SIZE manifest shards, 32 simhash bits).
- documented-trade: data-scaled by design WITH the mitigation stated
  in the key's docstring.  Empty since r15: events_sequence_match —
  the one such row — now enforces its per-user cap in code (rn <=
  _SEQ_MAX_EVENTS pre-filter) and reclassified as frame-bounded.
"""

from __future__ import annotations

import ast
import os

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_cnc_spark")

ALLOWED: dict[tuple[str, str], str] = {
    ("operators/windows.py", "win_running_distinct"): "vocab: event types",
    ("operators/windows.py", "win_moving_median"): "frame: bounded moving rows",
    ("operators/aggregates.py", "agg_collect"): "vocab: order statuses (contract key)",
    ("operators/stats.py", "stat_hampel_filter"): "frame: rolling days on the daily grid",
    ("operators/stats.py", "stat_bradley_terry"): "grid: 5x5 event-type pair wins",
    ("operators/analytics.py", "events_sequence_match"): (
        "frame: rn<=_SEQ_MAX_EVENTS pre-filter bounds each user's"
        " collected history at 4096 chars (r15: the former"
        " documented-trade row, now cap-enforced in code)"
    ),
    ("operators/analytics.py", "events_cusum"): "grid: daily",
    ("operators/analytics.py", "events_conversion_paths"): "frame: rpos<=3 pre-filter",
    ("operators/analytics.py", "events_holt"): "grid: daily per type",
    ("operators/analytics.py", "events_sax_symbolic"): "grid: daily per type",
    ("operators/analytics.py", "events_holt_winters"): "grid: daily per type",
    ("operators/analytics.py", "events_croston"): "grid: daily",
    ("operators/analytics.py", "events_hmm_viterbi"): "grid: daily (one sequence)",
    ("operators/analytics.py", "events_attribution_markov"): "grid: bounded transition matrix",
    ("operators/analytics.py", "events_dtw_daily"): "grid: daily arrays",
    ("llm/dedup.py", "dedup_simhash"): "grid: 32 signature bits",
    ("llm/multimodal.py", "multimodal_shard_manifest"): "grid: SHARD_SIZE-capped shards",
    ("llm/similarity.py", "sim_ann_ivfpq"): "grid: M codebook subspaces",
    ("llm/similarity.py", "embed_mahalanobis_ood"): "grid: 64 dims",
    ("llm/similarity.py", "ml_silhouette_simplified"): "grid: 64 dims x <=10 labels",
}

COLLECTORS = {"collect_list", "collect_set"}


def _call_sites() -> set[tuple[str, str]]:
    found: set[tuple[str, str]] = set()
    for root, _dirs, files in os.walk(ENGINE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, ENGINE)
            tree = ast.parse(open(path).read())
            stack: list[str] = []

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    name = None
                    if isinstance(node.func, ast.Attribute):
                        name = node.func.attr
                    elif isinstance(node.func, ast.Name):
                        name = node.func.id
                    if name in COLLECTORS and stack:
                        # attribute to the outermost enclosing def —
                        # the registered build or public helper
                        found.add((rel, stack[0]))
                    self.generic_visit(node)

            V().visit(tree)
    return found


def test_collected_state_boundedness_census():
    found = _call_sites()
    extra = found - set(ALLOWED)
    missing = set(ALLOWED) - found
    assert not extra, (
        "collect_list/collect_set site(s) not in the boundedness"
        f" allowlist (classify the group bound first): {sorted(extra)}"
    )
    assert not missing, f"stale allowlist entries: {sorted(missing)}"
