"""10x scale ledger (VERDICT r9 item 1): measure the flagship lanes at an
sf1-equivalent data size and commit observed-vs-linear ratios.

The 100 TB story so far rested on plan pins (BENCH_LEDGER/plan_shape.json
from tools/plan_shape.py, tests/test_plans.py) and 10x stress *tests* (tests/test_scale_stress.py);
this tool converts it into a committed timing artifact: the LANES below
run at BOTH sf0.1 and a 10x inflation of sf0.1, in one session, timed by
bench.time_lane (build call through the noop write, as bench.py times
every lane). The committed output is
BENCH_LEDGER/scale10x.json; SCALING.md summarizes it.

## The 10x corpus (same recipes as tests/test_scale_stress.py)

Key-shifted replication grows key cardinality with data (the realistic
direction) while keeping per-key history constant; one replica keeps the
original keys so hot keys also grow 10x hotter:

- events:     event_id += r*1e7, user_id += r*1e6 (ts/value untouched)
- documents:  doc_id += r*1e7; replica tokens SALTED disjoint
              (regexp_replace '(\\S+)' -> '$1x{r}', n_chars recomputed) --
              identical-text replication would make every replica an
              exact/near dup of its original and explode candidate pairs
              ~replicas^2, which measures the *generator*, not the plan
              (test_inc_minhash_10x pins the same point)
- embeddings: vec_id += r*1e8; replica vectors CYCLE-SHIFTED by 7r dims --
              an isometry (within-replica geometry exactly preserved) that
              scrambles cross-replica cosines, so ANN/near-dup structure
              grows linearly instead of as 10-clique replica bundles
- orders/lineitem: o_orderkey/l_orderkey += r*1e8 (join stays consistent);
              custkey/partkey/suppkey untouched -- facts grow 10x against
              FIXED dimensions, so per-dim-key fan-out grows 10x
- customer/supplier/part/nation/region: copied as-is (dimensions)

## Reading ratios

ratio = t_10x / t_sf0.1 per lane. Linear scaling with zero fixed cost
would read 10.0; at this absolute size most lanes sit WELL below 10
(fixed planning/JVM cost dominates sub-second lanes). The red flag is the
other direction: ratio > SUPERLINEAR_FLAG (15.0) marks a lane doing
super-linear work. dedup_ngram_jaccard_pairs is excluded BY DESIGN: it is
the O(n^2) brute-force truth for the LSH lane (its docstring says so);
its scale path dedup_minhash_lsh_pairs is measured instead.

Usage: python tools/scale_bench.py [--rebuild] [--force-error] [name ...]
  --force-error  let a fresh error entry replace a previously-clean timing
                 (default: the clean timing is kept, error noted alongside)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
# super-linear = more than 1.5x the data growth (so 15.0 at 10 replicas,
# 30.0 at 20) -- an absolute threshold would mis-flag sub-linear lanes on
# deeper scale steps
SUPERLINEAR_FLAG = 1.5 * REPLICAS
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_DIR = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR", os.path.join(REPO, f".scale{REPLICAS}x")
)

# The lanes whose builders run Spark jobs (lineage cuts, boundary and
# offset jobs, fixed-point iterations), then the r9-committed-ledger top
# lanes by time minus the declared-quadratic truth lane, then the flagship
# scale paths the 100 TB story leans on. The EXCLUDED truth lanes are
# measured through their scale paths instead.
LANES = (
    "dedup_clusters",
    "dedup_keep_best",
    "emb_top_pc_power_iteration",
    "emb_kcenter_seeds",
    "graph_bfs_reachability",
    "rel_rfm_segments_scale",
    "rel_exact_quantiles_scale",
    "text_heavy_hitters",
    "val_winsorized_stats",
    "rel_weighted_quantiles_scale",
    "layout_zorder_locality",
    "rel_equidepth_histogram",
    "rel_decile_lift",
    "graph_kcore",
    "rel_abc_classification",
    "sample_curriculum_order",
    "emb_pq_assign",
    "layout_zonemap_pruning",
    "sim_pq_adc_recall",
    "sim_ivfpq_recall",
    "inc_cc_new_edges",
    "emb_pq_train_curve",
    "layout_bloom_pruning",
    "corpus_prep_e2e",
    "corpus_prep_inc_batch",
    "dedup_semantic_clusters_scale",
    "text_fuzzy_prefix_pairs",
    "text_repetition_stats",
    "text_setsim_prefix_join",
    "dedup_containment_pairs",
    "ml_invariants",
    "approx_distinct_and_quantiles",
    "ml_forecast_next",
    "text_bigram_lm_score",
    "rel_range_join",
    "quality_profile_approx",
    "dedup_minhash_lsh_pairs",
    "graph_triangle_estimate",  # DOULION answer to the exact lane's ENOSPC
)
EXCLUDED = {
    "dedup_ngram_jaccard_pairs": (
        "O(n^2) brute-force truth lane by declared design "
        "(querydefs/textops.py docstring); the measured scale path is "
        "dedup_minhash_lsh_pairs"
    ),
    # Round-11 (VERDICT r10 item 1): the two remaining truth lanes get the
    # same formal declared-exclusion contract instead of an error entry /
    # an explained-flag entry -- their docstrings carry the matching
    # declaration, pinned by test_excluded_lanes_declare_it.
    "graph_triangle_count": (
        "EXACT truth lane by declared design (querydefs/graph.py "
        "docstring): the capped error graph is a union of up-to-256-"
        "cliques, so exact enumeration is Omega(hours x cap^3) -- run 1 "
        "at 10x spilled >80 GB and hit ENOSPC. The measured scale path "
        "is graph_triangle_estimate (DOULION p=2/16: 3.4% error, flat "
        "at 20x)"
    ),
    "dedup_semantic_clusters": (
        "exact-recall truth lane by declared design (querydefs/textops.py "
        "docstring): threshold-0.4 cosine pairs on this fixture are "
        "distribution-tail pairs whose COUNT is itself ~quadratic, so "
        "no exact method is linear (measured 23.9x at 10x). The "
        "measured scale path is dedup_semantic_clusters_scale (1.26x "
        "at 10x, 1.83x step at 20x, planted recall ~0.9 pinned)"
    ),
}

# Investigated causes for lanes whose ratio exceeds the flag -- committed
# with the ledger so a flag is never an open question (SCALING.md has the
# full analysis).
EXPLAINED = {
    "graph_kcore": (
        "cap-engagement step: users/hour crosses the 256-per-hour cap "
        "between sf0.1 (peak 45) and 10x (~450), so pairs/hour grow "
        "(256/45)^2-bounded on exactly this step and then SATURATE "
        "(pinned by test_hour_cap_saturates_edge_growth); beyond it "
        "growth is #hours-bounded. The UNCAPPED builder instead spilled "
        ">80 GB and hit ENOSPC in run 1."
    ),
    "graph_triangle_estimate": (
        "inherits graph_kcore's cap-engagement step at 1/512 the "
        "constant (p^3 sampling): 51 s absolute where the EXACT lane "
        "exhausted the disk (now formally excluded, see EXCLUDED); the 20x "
        "ledger measures the saturation directly (42.0 s at 20x -- FLAT "
        "vs 10x)"
    ),
    "inc_triangle_estimate_merge": (
        "same cap-engagement step as its scratch twin; the 20x ledger "
        "shows the saturation (38.8 s at 20x vs 30.8 s at 10x = 1.26x "
        "for 2x data)"
    ),
}


def build_scale_dir(spark, src: str, dst: str) -> None:
    """Materialize the 10x inflation of every table under dst (idempotent:
    skips tables whose parquet already exists)."""
    from pyspark.sql import functions as F

    from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import (
        TABLES,
        load_table,
    )

    os.makedirs(dst, exist_ok=True)

    def replicate(name, mutate):
        out = os.path.join(dst, f"{name}.parquet")
        if os.path.isdir(out):
            return
        base = load_table(spark, name, src)
        parts = [mutate(base, r) for r in range(REPLICAS)]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionAll(p)
        big.repartition(16).write.mode("overwrite").parquet(out)

    def copy(name):
        out = os.path.join(dst, f"{name}.parquet")
        if not os.path.isdir(out):
            load_table(spark, name, src).write.mode("overwrite").parquet(out)

    replicate(
        "events",
        lambda df, r: df.withColumn(
            "event_id", F.col("event_id") + F.lit(r * 10_000_000)
        ).withColumn("user_id", F.col("user_id") + F.lit(r * 1_000_000)),
    )

    def mutate_docs(df, r):
        df = df.withColumn("doc_id", F.col("doc_id") + F.lit(r * 10_000_000))
        if r:
            df = df.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", r"$1x%d" % r)
            ).withColumn("n_chars", F.length("text").cast("long"))
        return df

    replicate("documents", mutate_docs)

    def mutate_emb(df, r):
        df = df.withColumn("vec_id", F.col("vec_id") + F.lit(r * 100_000_000))
        if r:
            k = (7 * r) % 64
            shifted = F.concat(
                F.slice("embedding", k + 1, 64 - k), F.slice("embedding", 1, k)
            )
            df = df.withColumn("embedding", shifted)
        return df

    replicate("embeddings", mutate_emb)
    replicate(
        "orders",
        lambda df, r: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(r * 100_000_000)
        ),
    )
    replicate(
        "lineitem",
        lambda df, r: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(r * 100_000_000)
        ),
    )
    for name in TABLES:
        if name in ("events", "documents", "embeddings", "orders", "lineitem"):
            continue
        copy(name)


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    rebuild = "--rebuild" in argv
    force_error = "--force-error" in argv
    only = [a for a in argv if not a.startswith("--")]

    import bench
    from electricity_forecast_pipeline_airflow_k8s_spark.queries import (
        queries as all_queries,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark

    spark = get_spark(app_name="efp-scale-bench")
    if rebuild and os.path.isdir(SCALE_DIR):
        import shutil

        shutil.rmtree(SCALE_DIR)
    t0 = time.perf_counter()
    build_scale_dir(spark, SRC_DIR, SCALE_DIR)
    build_sec = round(time.perf_counter() - t0, 1)

    qs = all_queries()
    missing = [n for n in LANES if n not in qs]
    assert not missing, f"unknown lanes: {missing}"
    # explicit names may name ANY registry lane, not just the default set
    lanes = [n for n in only if n in qs] if only else list(LANES)

    def run(name: str, sf_dir: str) -> float:
        return round(sum(bench.time_lane(spark, qs[name], sf_dir)), 3)

    # JIT/codegen warmup at the smallest sf, as the bench does
    warm = os.path.join(os.path.dirname(SRC_DIR.rstrip("/")), "sf0.001")
    warm = warm if os.path.isdir(warm) else SRC_DIR
    for name in lanes:
        run(name, warm)

    results: dict[str, dict] = {}
    for name in lanes:
        # per-lane isolation: one pathological lane (run 1: the uncapped
        # triangle builder spilled >80 GB of shuffle at 10x and hit ENOSPC)
        # must not lose the whole artifact
        try:
            t01 = min(run(name, SRC_DIR), run(name, SRC_DIR))  # best-of-2
            t10 = run(name, SCALE_DIR)  # one timed run, session already warm
            results[name] = {
                "sf01_sec": t01,
                "x10_sec": t10,
                "ratio": round(t10 / t01, 2) if t01 > 0 else None,
            }
        except Exception as e:  # noqa: BLE001 -- lane boundary
            spark.catalog.clearCache()
            results[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
        print(name, results[name], flush=True)

    out = os.path.join(REPO, "BENCH_LEDGER", f"scale{REPLICAS}x.json")
    # Per-entry provenance (ADVICE r10): ledgers merge timings from
    # different sessions/corpus builds; stamp each fresh entry with the
    # run date + corpus identity so mixed-provenance entries are visible.
    run_stamp = {
        "measured": time.strftime("%Y-%m-%d"),
        "corpus": f"{REPLICAS}x:{os.path.basename(SCALE_DIR.rstrip('/'))}",
    }
    for r in results.values():
        r.update(run_stamp)
    # ALWAYS merge into the committed ledger: rounds have widened it with
    # ad-hoc lane batches beyond the default set, and a default re-run
    # must refresh those lanes' absence-tolerantly, not erase them (pass
    # --rebuild to also rebuild the corpus; delete the JSON to start over).
    # A transiently-failed re-run must NOT clobber a previously-clean
    # timing (ADVICE r10): an error entry only replaces a clean one under
    # --force-error; otherwise the old timing is kept and the error is
    # recorded alongside it.
    merged = dict(results)
    if os.path.exists(out):
        with open(out) as f:
            prev = json.load(f).get("lanes", {})
        for name, old in prev.items():
            new = merged.get(name)
            if new is None:
                merged[name] = old
            elif "error" in new and "error" not in old and not force_error:
                merged[name] = {**old, "last_error": new["error"], **run_stamp}
    # formally-excluded lanes never carry entries (their exclusion note is
    # the artifact) -- drop any stale ones a previous ledger accumulated
    for name in EXCLUDED:
        merged.pop(name, None)
    flagged = {
        n: r["ratio"]
        for n, r in merged.items()
        if r.get("ratio") and r["ratio"] > SUPERLINEAR_FLAG
    }
    payload = {
        "replicas": REPLICAS,
        "src": SRC_DIR,
        "build_sec": build_sec,
        "superlinear_flag": SUPERLINEAR_FLAG,
        "flagged": flagged,
        "explained": {n: EXPLAINED[n] for n in flagged if n in EXPLAINED},
        "excluded": EXCLUDED,
        "lanes": merged,
    }
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"lanes": len(results), "flagged": flagged, "out": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
