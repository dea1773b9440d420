#!/usr/bin/env python
"""Physical-plan audit of every registered query: one row per query with
the plan-shape counters that matter at 100 TB (shuffles, join strategies,
whole-stage-codegen spans and their largest generated method,
Python/Arrow boundaries, windows), plus a lint for join shapes that are
scale hazards unless intentional and for generated methods HotSpot will
not JIT-compile.

Writes PLAN_AUDIT.md.  This is the repo's standing answer to "did you
.explain() every operator": regenerate after plan-affecting changes with

    python tools/plan_audit.py [sf_dir]

Counters come from the top-level FINAL physical plan: each query is
executed so AQE's runtime rewrites (broadcast conversions, coalesced
exchanges) are counted, and AQE initial plans — top-level or nested under
a cached frame — are not.
"""

from __future__ import annotations

import pathlib
import re
import shutil
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from locus_spark.session import (  # noqa: E402
    JIT_MAX_METHOD_BYTES,
    get_spark,
    max_method_bytes,
)

#: queries whose nested-loop/cartesian joins are the DOCUMENTED small-side
#: contract, not an accident (brute-force verifiers, 1-row scalar frames,
#: bounded probe literals).
INTENTIONAL_NESTED_LOOP = {
    "dedup_embedding_cosine": "exact all-pairs verifier (documented small-scale-only)",
    "ann_cosine_topk": "brute-force baseline: broadcast probes x corpus scan",
    "ann_lsh_recall": "carries the brute-force exact side by design",
    "ann_ivf_recall": "carries the brute-force exact side by design",
    "ann_pq_recall": "carries the brute-force exact side by design",
    "ann_lsh_topk_planted": "planted-equality row joins the exact side",
    "ann_ivf_topk_planted": "planted-equality row joins the exact side",
    "doc_heavy_hitters": "1-row total-count frame broadcast-crossed into the filter",
    "doc_hits": "1-row L1-normalizer frame broadcast-crossed into each half-step "
    "(replaces the round-4 per-half-step driver collect)",
    "events_anomaly": "1-row corpus mean/std frame broadcast-crossed into the "
    "z-score projection (stats bounded by the time horizon, never event volume)",
    "doc_top_quality": "1-row per-group cutoff frame",
    "pipeline_training_mix": "1-row per-group cutoff frame",
    # the *_over_layout queries broadcast the (explicitly small, documented)
    # probe-box table and theta-join its containment predicate against the
    # cell-IN-pruned layout scan — BuildLeft on the probe side, the layout
    # side stays a pruned columnar scan (operators/points.py:121 contract)
    "kd_find_box_persisted": "broadcast small probe boxes x pruned layout scan",
    "kd_find_box_incremental": "broadcast small probe boxes x pruned merged layout",
    "r_find_subsets_persisted": "broadcast small probe boxes x pruned layout scan",
}

_DBSCAN_LABEL_JOIN = (
    "final label read-off (points ⟕ border labels on id): BOTH sides are "
    "data-sized (all points; border points are O(|P|)) at any scale, so a "
    "shuffle join is the 100-TB-correct shape.  AQE cannot demote it at "
    "sf0.1 either: the border side is a groupBy(a) whose input shuffle "
    "already partitions it on the join key, so it has no exchange of its "
    "own for AQE to size.  The core-core semi-joins feed the checkpointed "
    "CC input and never reach this plan."
)

#: queries whose SortMergeJoin is the DOCUMENTED two-data-sized-sides
#: contract, not a missed broadcast.
INTENTIONAL_SORTMERGE = {
    "pages_dbscan": _DBSCAN_LABEL_JOIN,
    "kd_dbscan": _DBSCAN_LABEL_JOIN,
    "dedup_clusters": (
        "cluster read-off (documents-with-rep ⟕ component labels on _rep): "
        "BOTH sides are data-sized (O(|D|) documents, up to O(|D|) "
        "representatives) at any scale.  The component side leaves "
        "connected_components already partitioned on the key (its own "
        "node ⟕ min-neighbor join, which AQE does turn into a broadcast "
        "join), so AQE has no exchange to size and keeps the shuffle join."
    ),
}

PATTERNS = {
    "exchanges": r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)",
    "broadcast_joins": r"BroadcastHashJoin",
    "sortmerge_joins": r"SortMergeJoin",
    "shuffled_hash_joins": r"ShuffledHashJoin",
    "nested_loop": r"BroadcastNestedLoopJoin|CartesianProduct",
    "wscg_spans": r"WholeStageCodegen subtrees",  # replaced below by count
    "python_arrow": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython",
    "windows": r"\bWindow\b",
}


def final_plan(plan: str) -> str:
    """The plan that ran.  A finalized AdaptiveSparkPlan prints its final
    plan, then ``+- == Initial Plan ==`` and the initial plan.  A cached
    frame inside it (InMemoryRelation) prints its own AQE plan with the
    same markers, indented: only the column-0 marker ends the plan, and an
    indented one drops just the nested initial plan below it."""
    out, nested_at = [], None
    for line in plan.splitlines(keepends=True):
        if nested_at is not None:
            # tree lines below the nested marker start their node text
            # deeper than the marker's own column
            if len(line) - len(line.lstrip(" :|+-")) > nested_at:
                continue
            nested_at = None
        at = line.find("+- == Initial Plan ==")
        if at == 0:
            break
        if at > 0:
            nested_at = at
            continue
        out.append(line)
    return "".join(out)


def audit(plan: str, codegen_plan: str) -> dict[str, int]:
    out = {}
    for k, pat in PATTERNS.items():
        if k == "wscg_spans":
            # "Found N WholeStageCodegen subtrees." header of codegen mode
            m = re.search(r"Found (\d+) WholeStageCodegen", codegen_plan)
            out[k] = int(m.group(1)) if m else 0
        else:
            out[k] = len(re.findall(pat, plan))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # persisted layouts and bucketed tables go to a private temp dir, so a
    # bench run beside the audit neither wipes nor reads them
    run_tmp = tempfile.mkdtemp(prefix="locus_plan_audit_")
    tempfile.tempdir = run_tmp
    spark = get_spark(
        app_name="plan_audit", master="local[4]", shuffle_partitions=4
    )
    from locus_spark import queries as q

    rows, problems = [], []
    for name, fn in q.queries().items():
        try:
            df = fn(spark, sf_dir)
            # execute so AQE finalizes: counters reflect the plan that RAN
            # (AQE broadcast conversions and coalesced exchanges included),
            # not the pre-runtime guess.  Result sets are small at sf0.001.
            df.collect()
            qe = df._jdf.queryExecution()
            # count only the plan that ran, not AQE's initial plan
            plan = final_plan(qe.executedPlan().toString())
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "codegen"
            )
            codegen_plan = qe.explainString(mode)
            method_bytes = max_method_bytes(df)
        except Exception as exc:  # pragma: no cover - audit robustness
            problems.append(f"{name}: PLAN FAILED — {exc}")
            continue
        c = audit(plan, codegen_plan)
        c["rowlike_python"] = len(re.findall(r"BatchEvalPython", plan))
        c["max_method_bytes"] = method_bytes
        rows.append((name, c))
        if c["nested_loop"] and name not in INTENTIONAL_NESTED_LOOP:
            problems.append(
                f"{name}: {c['nested_loop']} nested-loop/cartesian join(s) "
                "not on the intentional list"
            )
        if c["sortmerge_joins"] and name not in INTENTIONAL_SORTMERGE:
            problems.append(
                f"{name}: {c['sortmerge_joins']} SortMergeJoin(s) not on "
                "the intentional list (missed broadcast, or annotate)"
            )
        if c["rowlike_python"]:
            problems.append(
                f"{name}: BatchEvalPython (row-at-a-time Python UDF) in plan"
            )
        if method_bytes > JIT_MAX_METHOD_BYTES:
            problems.append(
                f"{name}: a generated method of {method_bytes} bytes, above "
                f"HotSpot's {JIT_MAX_METHOD_BYTES}-byte JIT limit (runs interpreted)"
            )

    lines = [
        "# PLAN_AUDIT — physical-plan shapes of every registered query",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` over "
        f"{len(rows)} queries.",
        "",
        "Columns: Exchange count (shuffles), join strategies, distinct",
        "whole-stage-codegen span ids, the largest generated method over",
        "those spans in bytes of bytecode (Spark's `ByteCodeStats`),",
        "Arrow-batched Python operators (`ArrowEvalPython`/`MapInPandas`/",
        "grouped-map — the sanctioned UDF surface), window operators.",
        "Row-at-a-time `BatchEvalPython` is a lint failure (no per-row",
        f"Python), and so is a method above {JIT_MAX_METHOD_BYTES} bytes:",
        "HotSpot does not JIT-compile it (`DontCompileHugeMethods`).",
        "",
        "| query | exchanges | bcast HJ | SMJ | shuffled HJ | nested-loop | WSCG spans | max method B | arrow py | windows |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        nl = str(c["nested_loop"])
        if c["nested_loop"] and name in INTENTIONAL_NESTED_LOOP:
            nl += " (intentional)"
        smj = str(c["sortmerge_joins"])
        if c["sortmerge_joins"] and name in INTENTIONAL_SORTMERGE:
            smj += " (intentional)"
        lines.append(
            f"| {name} | {c['exchanges']} | {c['broadcast_joins']} | "
            f"{smj} | {c['shuffled_hash_joins']} | {nl} | "
            f"{c['wscg_spans']} | {c['max_method_bytes']} | "
            f"{c['python_arrow']} | {c['windows']} |"
        )
    lines += ["", "## Intentional nested-loop/cartesian shapes", ""]
    for name, why in sorted(INTENTIONAL_NESTED_LOOP.items()):
        lines.append(f"- `{name}` — {why}")
    lines += ["", "## Intentional SortMergeJoin shapes", ""]
    for name, why in sorted(INTENTIONAL_SORTMERGE.items()):
        lines.append(f"- `{name}` — {why}")
    lines += ["", "## Lint", ""]
    if problems:
        lines += [f"- **{p}**" for p in problems]
    else:
        lines.append(
            "- clean: no unintentional nested-loop/cartesian joins, no "
            "unannotated SortMergeJoins, no row-at-a-time Python UDFs, no "
            "generated method above the JIT limit anywhere in the registry."
        )
    (REPO / "PLAN_AUDIT.md").write_text("\n".join(lines) + "\n")
    print(f"PLAN_AUDIT.md written: {len(rows)} queries, {len(problems)} lint findings")
    for p in problems:
        print("LINT:", p)
    spark.stop()
    shutil.rmtree(run_tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
