"""Integrity pins for the committed scale ledgers (BENCH_LEDGER/
scale10x.json, scale20x.json): the artifacts stay honest round-over-round
-- full lane coverage at 10x, an investigated explanation for every flag,
and a growth-relative flag threshold. Pure JSON checks, no Spark.
"""

from __future__ import annotations

import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name):
    path = os.path.join(ROOT, "BENCH_LEDGER", name)
    if not os.path.exists(path):
        pytest.skip(f"{name} not present in this checkout")
    with open(path) as f:
        return json.load(f)


def test_scale10x_covers_iterative_and_flagships():
    """Every lane of scale_bench.py's one lane tuple (the lanes whose
    builders run jobs, plus the flagships) carries a 10x entry."""
    from tools.scale_bench import LANES

    d = _load("scale10x.json")
    lanes = set(d["lanes"])
    assert not set(LANES) & set(d["excluded"])
    missing = set(LANES) - lanes
    assert not missing, f"scale lanes absent from the 10x ledger: {missing}"
    # the declared-design exclusions are documented, not silent
    for name in (
        "dedup_ngram_jaccard_pairs",
        "graph_triangle_count",
        "dedup_semantic_clusters",
    ):
        assert name in d["excluded"], name
        assert name not in lanes, name


def test_no_error_entries_in_scale_ledgers():
    """VERDICT r10 item 1: every lane is either measured or formally
    excluded -- an {'error': ...} entry is an open failure and must not
    survive a round close (a clean timing carrying a `last_error` note
    from a failed re-run is fine: the timing is still the evidence)."""
    for name in ("scale10x.json", "scale20x.json", "scale50x.json"):
        path = os.path.join(ROOT, "BENCH_LEDGER", name)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            d = json.load(f)
        errored = [n for n, r in d["lanes"].items() if "error" in r]
        assert not errored, f"{name}: unresolved error entries: {errored}"


def test_excluded_lanes_declare_it():
    """Each formally-excluded lane's own docstring must carry the
    declared-design contract so the exclusion is visible at the definition
    site, not only in the ledger tool."""
    from tools.scale_bench import EXCLUDED
    from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry

    reg = registry()
    for name in EXCLUDED:
        doc = reg[name].build.__doc__ or ""
        assert "EXCLUDED by declared design" in doc, name


def test_every_flag_is_explained():
    for name in ("scale10x.json", "scale20x.json"):
        d = _load(name)
        unexplained = set(d["flagged"]) - set(d.get("explained", {}))
        assert not unexplained, f"{name}: flags without investigation: {unexplained}"


def test_flag_threshold_is_growth_relative():
    for name in ("scale10x.json", "scale20x.json"):
        d = _load(name)
        assert d["superlinear_flag"] == 1.5 * d["replicas"], name


def test_flags_match_recorded_ratios():
    for name in ("scale10x.json", "scale20x.json"):
        d = _load(name)
        expect = {
            n: r["ratio"]
            for n, r in d["lanes"].items()
            if r.get("ratio") and r["ratio"] > d["superlinear_flag"]
        }
        assert d["flagged"] == expect, name


def test_error_entries_are_the_documented_exact_lane():
    """Only the exact triangle lane may carry an error entry (its 10x
    ENOSPC IS the measurement -- SCALING.md round-10); any other errored
    lane means the run was bad and must be re-taken."""
    d = _load("scale10x.json")
    errored = {n for n, r in d["lanes"].items() if "error" in r}
    assert errored <= {"graph_triangle_count"}, errored


def test_core_ratio_ledger_shape_and_coverage():
    """Round-12 (VERDICT r11 item 6): the core-scaling evidence at the
    scale corpus must cover the five named heavy lanes and carry BOTH
    core columns plus the computed ratio -- this is the replacement for
    the sf0.1 low-core channel, which SCALING.md declares
    overhead-bound."""
    d = _load("core_ratio.json")
    lanes = d["lanes"]
    for name in (
        "graph_triangle_estimate",
        "text_setsim_prefix_join",
        "dedup_minhash_lsh_pairs",
        "corpus_prep_inc_batch",
        "dedup_containment_pairs",
    ):
        row = lanes.get(name)
        assert row, f"core-ratio ledger missing {name}"
        cols = [k for k in row if k.startswith("c") and k.endswith("_sec")]
        assert len(cols) >= 2, f"{name} measured at <2 core counts: {row}"
        assert all(row[c] > 0 for c in cols), row
        assert row.get("ratio_low_over_high") is not None, row
    assert d["replicas"] >= 10
