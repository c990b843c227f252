#!/usr/bin/env python3
"""Static physical-plan audit over EVERY registered query.

Writes ``plan_audit_r{NN}.json``: per-query counts of shuffle
exchanges, broadcast exchanges, join strategies, generators, window
nodes, and Python eval nodes, plus pushed-filter presence —
the mechanical evidence behind SCALING.md's per-operator claims. A
future change that adds a shuffle or drops a pushdown to any query
shows up as a diff of a committed artifact instead of a silent plan
regression (the driver's CORRECTNESS gate can't see plan shape, and
the bench only sees its wall-time consequence, usually within noise).

Runs against a FRESH vanilla session (like scripts/check_parity.py) so
session-conf drift can't flap join strategies between audits. The
audited PLAN is static (``explain`` only — the query's job itself
never executes), but building some queries runs real bounded
driver-side Spark actions at sf0.001 (seed/cursor fetches like
sort_keyset_pagination's ``.first()``, invariant counts, and the
iterative operators' fixpoint loops run to convergence during
construction), so a full audit does substantial sf0.001 work.

Flags (reported in the summary, non-zero exit on new ones):
- cartesian: CartesianProduct / BroadcastNestedLoopJoin anywhere
  outside the known bounded scalar-join allowlist;
- python_row_udf: a row-at-a-time BatchEvalPython node (the slow
  path; Arrow/pandas eval nodes are fine).

``--diff PRIOR.json`` additionally compares the fresh artifact
against a prior round's stamp: per-query metric deltas (exchanges /
broadcasts / join strategies / Generate / Window / Python-eval /
pushdown presence) plus added and removed queries — a silently added
shuffle or dropped pushdown becomes a named delta instead of bench
noise (VERDICT r9 task 2). Diff output is informational; the exit
code still reflects only the flag problems above.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")

# Queries whose nested-loop/cartesian joins are bounded by construction
# (one-row scalar relations broadcast into the probe — audited in
# VERDICT r8's anti-pattern sweep).
_BOUNDED_NLJ = {
    "tpch_q11", "tpch_q22",
    # dedup_embedding_cosine pruned r16: its pair NLJ became the
    # mapInArrow block kernel (no join node below the gate)
    "text_unigram_logprob", "text_bigram_logprob",
    "dq_expectations",
    # audited round 9 (all broadcast builds bounded by construction):
    "join_band_nonequi",      # 5-row literal band-dim broadcast
    "sim_centroid_assign",    # k centroid vectors (KB) broadcast
    "text_tfidf_top_terms",   # 1-row corpus doc-count scalar
    "agg_hll_sketch_ok",      # merged-sketch 1-row broadcast
    "agg_kll_quantiles_ok",   # merged-estimate 1-row broadcast
    "agg_cms_topk_ok",        # merged-sketch 1-row broadcast
    "agg_bitmap_distinct",    # overall-bitmap 1-row broadcast
    "agg_profile_columns",    # 1-row profile broadcast to stack()
    "multimodal_image_phash", # 36-image fixture self-pairing (demo corpus)
    # audited round 10:
    "agg_ab_significance",    # 1-row arm-size broadcast into per-type rows
    # audited round 11:
    "text_pmi_collocations",   # 1-row token-total broadcast into the
                               # bigram-count relation (lift denominator)
    "sample_stratified_neyman",  # 1-row weight-total broadcast into the
                                 # |strata|-row allocation relation
    # audited round 12:
    "text_ccnet_buckets",  # 1-row corpus token-total broadcast into the
                           # token stream (the unigram_logprob shape)
    "sim_hamming_topk",  # 5-row signature query side broadcast with a
                         # != condition (the sim_topk_cosine shape)
    "agg_benford_deviation",  # 1-row corpus-total broadcast into the
                              # 9-row digit relation (the neyman shape)
    # audited round 13:
    "agg_ks_source_drift",  # sources x value-domain grid build: two
                            # domain-bounded relations (~20 x ~340)
                            # cross-joined broadcast, plus the 1-row
                            # corpus-total broadcast — both bounded by
                            # the DOMAIN, not the corpus
    "agg_chi2_independence",  # 1-row totals x 1-row statistic join
                              # (the neyman 1-row broadcast shape)
    "text_dispersion_dp",  # 10-term top list x |sources| grid build +
                           # 1-row grand-total broadcast — both bounded
                           # by the domain, the KS grid shape
    # audited round 14 (VERDICT task 3 — the two-pass ntile re-plan):
    "window_rfm_scores",  # three |partitions|² prefix-offset
                          # theta-joins + 1-row total broadcasts from
                          # two_pass_ntile — bounded by the partition
                          # count, never the corpus
    "agg_decile_shares",  # one two_pass_ntile offset theta-join + the
                          # 10-row Lorenz cumulative/total theta-join —
                          # bounded by |partitions| and the 10 deciles
    "agg_contingency_residuals",  # sources x langs zero-fill grid
                                  # cross join + 1-row total broadcast
                                  # — domain-bounded, the KS grid shape
    "text_heaps_law",  # 10x10 decile cumulative theta-join (the
                       # agg_decile_shares Lorenz shape)
    "text_burstiness",  # 1-row corpus doc-count broadcast onto the
                        # top-20 terms (the neyman scalar shape)
    "sim_silhouette_centroid",  # k centroid vectors (KB) broadcast —
                                # the sim_centroid_assign shape
    "agg_ab_power_mde",  # 1-row arm-count broadcast onto |types| rows
                         # (the agg_ab_significance scalar shape)
    # audited round 15:
    "ml_eval_pr_curve",  # 1-row PR-AUC broadcast onto the 21-row
                         # threshold grid (the neyman scalar shape)
    "ml_calibration_bins",  # 1-row ECE broadcast onto the <=10-row
                            # bin relation (the neyman scalar shape)
    "agg_ab_cuped",  # 1-row pooled theta/mean broadcast onto the
                     # 2-row arm rollup (the ab_significance shape)
    "agg_assoc_rules",  # 1-row distinct-user total broadcast onto the
                        # |domain|²-bounded rule relation (lift
                        # denominator — the pmi_collocations shape)
    # audited round 15, wave E:
    "text_tv_distance_sources",  # 1-row corpus token-total broadcast
                                 # into the vocabulary-bounded grain
                                 # (the pmi_collocations scalar shape)
    # audited round 15, wave F:
    "sample_negative_pairs",  # 1-row corpus-count broadcast into the
                              # anchor scan (the neyman scalar shape)
    "ml_eval_lift_table",  # two_pass_ntile's |partitions|² offset
                           # theta-joins + the 10-row Lorenz cumulative
                           # + 1-row totals broadcast (the
                           # window_rfm_scores / agg_decile_shares
                           # shapes combined)
}


_METRICS = (
    "exchanges", "broadcasts", "smj", "bhj", "nlj",
    "generate", "windows", "python_eval", "row_python_eval",
    "pushed_filters",
)


def diff_artifacts(prior: dict, current: dict) -> dict:
    """Per-query metric deltas between two audit artifacts. Returns
    {added: [...], removed: [...], changed: {name: {metric: [old, new]}}}
    over the queries present in both."""
    pq, cq = prior.get("queries", {}), current.get("queries", {})
    changed: dict[str, dict] = {}
    for name in sorted(set(pq) & set(cq)):
        old, new = pq[name], cq[name]
        if "error" in old or "error" in new:
            if old.get("error") != new.get("error"):
                changed[name] = {"error": [old.get("error"), new.get("error")]}
            continue
        deltas = {
            m: [old.get(m), new.get(m)]
            for m in _METRICS
            if old.get(m) != new.get(m)
        }
        if deltas:
            changed[name] = deltas
    return {
        "added": sorted(set(cq) - set(pq)),
        "removed": sorted(set(pq) - set(cq)),
        "changed": changed,
    }


def main() -> None:
    from pyspark.sql import SparkSession

    from talkdesk_async_etl_spark.plans.registry import load_all

    diff_against = None
    argv = sys.argv[1:]
    if argv and argv[0] == "--diff":
        if len(argv) < 2:
            print("usage: plan_audit.py [--diff PRIOR_ARTIFACT.json]", file=sys.stderr)
            sys.exit(2)
        diff_against = argv[1]

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("plan_audit")
        .getOrCreate()
    )
    audit: dict[str, dict] = {}
    problems: list[str] = []
    from talkdesk_async_etl_spark.plans.cache import release_scoped

    for name, spec in load_all().items():
        try:
            df = spec.fn(spark, SF)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            audit[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            problems.append(f"{name}: plan build failed")
            continue
        finally:
            # Drop this query's scoped persists before the next build —
            # on BOTH paths: a cached relation left behind substitutes
            # InMemoryRelation nodes into LATER queries that share
            # lineage, making the recorded exchange counts depend on
            # SWEEP ORDER (the round-12 rotation reordered the registry
            # and two unchanged operators "changed" exactly this way).
            # A build/explain that THROWS used to leak its persists into
            # every subsequent plan (ADVICE r12), so this runs in a
            # finally, not just on success.
            release_scoped()
        entry = {
            "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
            "broadcasts": len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
            "smj": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
            "bhj": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
            "nlj": len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)),
            "generate": len(re.findall(r"\(\d+\) Generate", plan)),
            # (whole-stage-codegen spans are assigned at EXECUTION under
            # AQE — the static formatted plan shows none, so they are
            # not a static-audit metric.)
            "windows": len(re.findall(r"\(\d+\) Window", plan)),
            "python_eval": len(re.findall(r"\(\d+\) (?:ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|PythonMapInArrow|MapInArrow|FlatMapCoGroupsInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF|FlatMapGroupsInArrow)", plan)),
            "row_python_eval": len(re.findall(r"\(\d+\) BatchEvalPython\b", plan)),
            "pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        }
        audit[name] = entry
        if entry["row_python_eval"]:
            problems.append(f"{name}: row-at-a-time BatchEvalPython in plan")
        if entry["nlj"] and name not in _BOUNDED_NLJ:
            problems.append(f"{name}: unallowlisted cartesian/nested-loop join")
    spark.stop()

    # Allowlist hygiene: an allowlisted query whose plan no longer has
    # any NLJ means the bounded-broadcast justification is stale (the
    # plan improved, or the id was renamed) — report as a warning so
    # the list shrinks with the plans instead of fossilizing. Not a
    # failure: a stale ALLOW is conservative, unlike a stale DENY.
    stale_allow = sorted(
        n for n in _BOUNDED_NLJ
        if n in audit and "error" not in audit[n] and audit[n]["nlj"] == 0
    ) + sorted(n for n in _BOUNDED_NLJ if n not in audit)
    if stale_allow:
        print(f"plan_audit: stale NLJ allowlist entries: {stale_allow}", file=sys.stderr)

    # Round stamp: same implementation and convention as bench.py
    # ($SPARK_GRAFT_ROUND pin, else max over BENCH_r*/CORRECTNESS_r*
    # + 1, empty-artifact base 1 — previously this script used base 0).
    from bench import _round_stamp

    repo_dir = os.path.join(os.path.dirname(__file__), "..")
    stamp = _round_stamp(repo_dir)
    out = os.path.join(repo_dir, f"plan_audit_r{stamp:02d}.json")
    current = {"sf": SF, "queries": audit, "problems": problems}
    # Same collision guard as bench.py's stamped detail: a DERIVED
    # round landing on an existing stamp is ambiguous — refuse unless
    # SPARK_GRAFT_ROUND pins the overwrite as deliberate.
    from bench import _stamp_collides

    if _stamp_collides(out, os.environ.get("SPARK_GRAFT_ROUND")):
        print(
            f"plan_audit: {out} already exists and SPARK_GRAFT_ROUND is not "
            f"pinned — REFUSING to overwrite; set SPARK_GRAFT_ROUND={stamp} "
            f"to re-stamp deliberately",
            file=sys.stderr,
        )
    else:
        with open(out, "w") as fh:
            json.dump(current, fh, indent=1, sort_keys=True)
            fh.write("\n")
    n_err = sum(1 for v in audit.values() if "error" in v)
    summary = {
        "queries": len(audit),
        "plan_errors": n_err,
        "problems": problems,
        "stale_nlj_allowlist": stale_allow,
        "total_exchanges": sum(v.get("exchanges", 0) for v in audit.values()),
        "out": os.path.relpath(out),
    }
    if diff_against:
        with open(diff_against) as fh:
            prior = json.load(fh)
        diff = diff_artifacts(prior, current)
        summary["diff"] = {
            "against": os.path.basename(diff_against),
            "added": diff["added"],
            "removed": diff["removed"],
            "n_changed": len(diff["changed"]),
        }
        for name, deltas in diff["changed"].items():
            print(f"plan diff {name}: {json.dumps(deltas)}", file=sys.stderr)
    print(json.dumps(summary))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
