"""Catalog-contract invariants: the queries()/oracle_sql() surface the
correctness driver consumes stays internally consistent."""

from __future__ import annotations

import ast
import hashlib

import __spark_entry__ as entry_mod

from recommendation_translation_spark.queries import ORACLES, QUERIES

# The ONLY queries allowed to lack a DuckDB oracle (rows-only checks);
# every one needs a reason.  Growing this set silently weakens the
# correctness gate, so additions must edit this file.
#
# EMPTY since round 6: the last seven rows-only ML queries graduated
# to hash-checked relations via the round-5 sketch pattern — each
# emits an exact deterministic skeleton (row counts, grids, id sets
# the oracle recomputes in SQL) plus invariant flags on the model
# internals that the oracle pins as TRUE literals.  Training still
# runs for real inside each query; what changed is that its outcome
# now has a hash signal.  History of earlier graduations:
# dedup_clusters (r4, recursive-CTE transitive closure),
# events_approx_stats / events_sketch_stats / events_hll_merge /
# doc_heavy_hitters (r5, exact twins + deterministic error-bound
# flags).
ROWS_ONLY: dict[str, str] = {}


# The catalog order is part of the contract: the correctness driver
# checks the first 50 entries of queries().  When the window is rotated
# on purpose (by moving entries within the QUERIES literal), regenerate
# both pins with
#   python -c "import hashlib; from recommendation_translation_spark.queries import QUERIES; print(len(QUERIES), hashlib.sha256('\n'.join(QUERIES).encode()).hexdigest())"
CATALOG_SIZE = 211
CATALOG_ORDER_SHA256 = "d15bebbb71495c14a4b19c1ed02b5dc1976f2575b0078c92ef5b47388d421914"


def test_catalog_order_is_pinned():
    assert len(QUERIES) == CATALOG_SIZE
    digest = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    assert digest == CATALOG_ORDER_SHA256, "catalog order changed"


def test_queries_is_bound_once():
    """One ordered literal, no stacked reorder blocks."""
    import recommendation_translation_spark.queries as qmod

    with open(qmod.__file__) as fh:
        tree = ast.parse(fh.read())
    bindings = [
        node.lineno
        for node in ast.walk(tree)
        for target in (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, (ast.AnnAssign, ast.AugAssign))
            else []
        )
        if isinstance(target, ast.Name) and target.id == "QUERIES"
    ]
    assert len(bindings) == 1, f"QUERIES bound at lines {bindings}"


def test_every_query_has_oracle_or_documented_reason():
    missing = set(QUERIES) - set(ORACLES)
    assert missing == set(ROWS_ONLY), (
        f"undocumented rows-only queries: {missing - set(ROWS_ONLY)}; "
        f"stale ROWS_ONLY entries: {set(ROWS_ONLY) - missing}"
    )


def test_no_orphan_oracles():
    assert set(ORACLES) <= set(QUERIES)


def test_entry_module_exposes_catalog():
    assert entry_mod.queries().keys() == QUERIES.keys()
    assert entry_mod.oracle_sql().keys() == ORACLES.keys()


def test_every_query_has_a_baseline_anchor():
    """The 2x bench guard is only meaningful if every catalog query has
    a BASELINE.md anchor row (the judge verifies exactly this); parse
    with the same regex bench.py uses so the two cannot drift."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    anchors = bench._baseline_map()
    missing = set(QUERIES) - set(anchors)
    assert not missing, f"queries with no BASELINE.md row: {sorted(missing)}"
    # and no anchor names a query that doesn't exist (typo guard)
    orphans = set(anchors) - set(QUERIES)
    assert not orphans, f"BASELINE.md rows naming no catalog query: {sorted(orphans)}"


def test_sf1_fence_panel_queries_exist():
    """A panel row naming a renamed/removed query only surfaces at
    fence runtime (as a violation); catch it statically."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_SF1_BASELINE.json")) as fh:
        panel = json.load(fh)["queries"]
    missing = set(panel) - set(QUERIES)
    assert not missing, f"fence panel rows naming no catalog query: {sorted(missing)}"
