"""Plan-shape audit: dump formatted physical plans for every registered query.

Writes PLANS.md with each query's `.explain("formatted")` output plus an
automated checklist: broadcast joins where expected, no cartesian products,
whole-stage codegen present, Python (Arrow) stages counted.  This is the
"would this plan survive a 100x scale-up" review artifact.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys

sys.path.insert(0, ".")

# Intentional BNL joins, with the reason printed into the audit.  Any other
# BNL/cartesian join is a scale bug and fails the audit loudly.
INTENTIONAL_BNL = {
    "s2_knn": "BNL is the intentional broadcast-cross exact-top-k baseline",
    "ann_cosine": "BNL is the intentional broadcast-cross exact-top-k baseline",
    "s2_vectorize_dist": (
        "BNL is the scalar combine of two SINGLE-ROW aggregates "
        "(mask count x ring checksums) — 1x1 rows at any input scale"
    ),
    "s2_tile_churn": (
        "BNL is the broadcast of the SINGLE-ROW min/max-ts aggregate onto "
        "the scan — 1 row at any input scale"
    ),
    "s2_decay_density": (
        "BNL is the broadcast of the SINGLE-ROW max-ts aggregate onto "
        "the scan — 1 row at any input scale"
    ),
    "s2_hotspot": (
        "BNL is the broadcast of the SINGLE-ROW grid-stats aggregate onto "
        "the grid-bounded focal table — 1 row at any input scale"
    ),
    "doc_keyterms": (
        "BNL is the broadcast of the SINGLE-ROW n_docs aggregate onto the "
        "tf table — 1 row at any input scale"
    ),
    "s2_moran": (
        "BNL is the broadcast of the SINGLE-ROW global-moments aggregate "
        "onto the grid-bounded tile table — 1 row at any input scale"
    ),
    "s2_ripley_k": (
        "BNL is the broadcast of the SINGLE-ROW point-count aggregate onto "
        "the single-row pair-bucket aggregate — 1x1 rows at any input scale"
    ),
    "doc_bigrams": (
        "BNL is the broadcast of the SINGLE-ROW token-total aggregate onto "
        "the vocab-bounded lift table — 1 row at any input scale"
    ),
}


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def audit(plan: str, name: str = "") -> tuple[list[str], bool]:
    """Returns (notes, ok).  ok=False on an unexpected BNL/cartesian join."""
    notes = []
    ok = True
    bhj = plan.count("BroadcastHashJoin")
    smj = plan.count("SortMergeJoin")
    bnl = plan.count("BroadcastNestedLoopJoin")
    cart = plan.count("CartesianProduct")
    arrow = plan.count("ArrowEvalPython")
    wsc = len(re.findall(r"WholeStageCodegen", plan)) or plan.count("* ")
    notes.append(f"joins: broadcast={bhj} sortmerge={smj} bnl={bnl} cartesian={cart}")
    notes.append(f"python(Arrow) stages: {arrow}; codegen spans: {wsc}")
    if bnl and name in INTENTIONAL_BNL:
        notes.append(f"note: {INTENTIONAL_BNL[name]}")
    elif bnl:
        notes.append("FAIL: unexpected BroadcastNestedLoopJoin (scale bug)")
        ok = False
    if cart:
        notes.append("FAIL: cartesian product in plan (scale bug)")
        ok = False
    if "PushedFilters: []" in plan and "PushedFilters" in plan:
        notes.append("note: no filters pushed to scan (query may not filter)")
    # surface the scan-level pushdown evidence the tree view drops: these
    # are the predicates parquet evaluates against row-group/page stats
    # (the data-skipping story: s2_cap_join_clustered's merged cell_id
    # ranges must appear here, pruning row groups on the sorted layout)
    # greedy to the LAST ']' on the line: In(...)-filters nest brackets
    for pf in re.findall(r"PushedFilters: \[(.+)\]", plan):
        if pf.strip():
            s = pf if len(pf) <= 220 else pf[:220] + " ..."
            notes.append(f"pushed to scan: [{s}]")
    return notes, ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from rust_s2_spark.engine.queries import QUERIES
    from rust_s2_spark.engine.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    out = io.StringIO()
    out.write("# PLANS — physical-plan audit of every registered query\n\n")
    out.write(
        "Generated by `tools/explain_audit.py`. Checklist per query: broadcast\n"
        "joins for small sides, no *unexpected* cartesian/BNL joins (the\n"
        f"{len(INTENTIONAL_BNL)} queries in `INTENTIONAL_BNL` broadcast-cross a single-row\n"
        "aggregate or a <=8-row query side; each note below states the bound),\n"
        "geometry in single Arrow stages, everything else whole-stage codegen.\n\n"
    )
    all_ok = True
    for name, fn in QUERIES.items():
        plan = plan_of(fn(spark, sf_dir))
        out.write(f"## {name}\n\n")
        notes, ok = audit(plan, name)
        all_ok &= ok
        for n in notes:
            out.write(f"- {n}\n")
        out.write("\n```\n")
        # keep the operator tree, drop the verbose per-node field dumps
        tree = plan.split("\n\n")[0]
        out.write(tree.strip()[:4000])
        out.write("\n```\n\n")
    with open("PLANS.md", "w") as f:
        f.write(out.getvalue())
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")
    if not all_ok:
        print("AUDIT FAILED: unexpected BNL/cartesian join — see PLANS.md")
        sys.exit(1)


if __name__ == "__main__":
    main()
