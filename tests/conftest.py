from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SIRIX_SPARK_TEST_SF", "/root/testdata/sf0.001")

# --- fast/slow test tiers (r10 verdict next-round #3) ----------------
# The full suite is ~40 min (503 tests) and the driver's verify gate
# truncated it two rounds running (tests_ok:false by capture window,
# not by failure). Default = FAST tier: the multi-minute campaigns
# below (fuzz sweeps, corpus/warm replays, subprocess bench runs,
# long-history property workloads — each a depth re-verification of
# code that also has fast-tier coverage) are deselected so a plain
# `pytest tests/` completes well inside the driver's window.
# SIRIX_SPARK_TESTS_FULL=1 runs everything (used by the round's own
# verification; see OPTIMIZATION_r11.md for the full-tier run log).
SLOW_NODEIDS = (
    "test_time_travel_cost.py",                 # 403s: long-history build
    "test_bench_smoke.py::test_bench_survives_failing_query",      # 143s
    "test_bench_smoke.py::test_bench_contended_retry_recovers",    # 80s
    "test_bench_smoke.py::test_bench_floor_parity_gate",           # 48s
    "test_bench_smoke.py::test_bench_deadline_degrades_instead_of_truncating",  # 40s
    "test_sessionize.py::test_stream_sessionize_closes_sessions",  # 120s
    "test_fuzz_jsoniq.py",                      # 85s: grammar fuzz campaign
    "test_fuzz_xpath.py",                       # 82s: axis fuzz campaign
    "test_xmark_warm.py",                       # 73s: warm-corpus replay
    "test_store_property.py",                   # 56s: random workloads
    "test_advice_r6.py",                        # 50s: cross-doc setop pins
    "test_xml.py::test_axis_family_vs_pointer_model",              # 49s
    "test_docwtx.py::test_valid_at_differential",                  # 42s
    "test_advice_r10.py::test_theta_broadcast_cap_falls_back_correctly",  # 38s
    "test_xpath.py::test_round5_surface",       # 52s: round-5 form replay
    "test_registry.py::test_no_duplicate_output_columns",          # 26s
    "test_ann.py::test_structure_guard_routes_by_fixture",         # 16s
    "test_ann.py::test_continuous_margin_routing_half_clustered",  # 10s
    "test_mcp.py",                              # 26s: MCP surface replay
    "test_rest.py",                             # 21s: REST CRUD replay
    "test_ref_corpus.py",                       # 19s: corpus sample replay
)


def _is_slow(item) -> bool:
    """Exact match on ``<file>`` or ``<file>::<test>`` (covering every
    parametrization of the test). A substring match would also drop
    any test whose id merely contains an entry."""
    test = item.nodeid.split("::", 1)[1].split("[", 1)[0] if "::" in item.nodeid else ""
    return item.path.name in SLOW_NODEIDS or f"{item.path.name}::{test}" in SLOW_NODEIDS


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SIRIX_SPARK_TESTS_FULL") == "1":
        return
    keep, dropped = [], []
    for it in items:
        (dropped if _is_slow(it) else keep).append(it)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    from sirix_spark import get_spark

    s = get_spark("sirix-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
