#!/usr/bin/env python
"""Plan shapes of every catalog query, diffed against PLAN_SHAPES.json.

One row per catalog query: the executed plan's count of each physical
node type the repo polices (``NODES`` — shuffles, Python crossings,
``Expand``, join strategies, object aggregates, cache scans) and its
interpreted higher-order-function (HOF) sites. Plans are built at
sf0.001 in a fixed ``local[2]`` session, so no row depends on the
host's core count.

Spark evaluates array higher-order functions (``filter`` / ``transform``
/ ``aggregate`` / ``zip_with`` / ``exists`` / ``forall``) INTERPRETED —
outside whole-stage codegen. That is fine (and unavoidable) when the
array IS the data, e.g. a token array per document; it is a silent
10-50x tax when the array is a dimension-sized constant that could ride
as literal codegen expressions instead. ``dq_psi_drift`` shipped with
exactly that bug: ONE ``size(filter(edges, e -> e < v))`` over a
broadcast 9-element array was 81 of its 96 s at the 100x universe;
rewritten to unrolled literal comparisons it fell to 7.2 s.

Worse, the OPTIMIZER can multiply interpreted sites the source never
wrote: ``PushDownPredicates`` substitutes let-bound aliases into Filter
nodes (the curation gates evaluated their tokenizer 25x per row before
the pushdown_barrier), ``CollapseProject`` inlines multi-referenced
aliases, and ``InferFiltersFromGenerate`` plants extra copies under
explodes. So the audit counts each query's HOF sites THREE ways:

- ``analyzed``   — what the source wrote (pre-optimization plan);
- ``optimized``  — what will actually run, post-Catalyst;
- ``in_filter``  — optimized sites sitting inside Filter nodes, the
  signature of pushdown re-inlining.

``dup_factor`` = optimized / analyzed, counted on RAW ``lambdafunction(``
occurrences — the named-function regex undercounts deeply-nested lambdas
(its argument matcher only spans one paren level), which manufactured
fake 2x "duplication" on the PQ plans in the first plan-diff sweep. A
factor > 1, or any ``in_filter`` count on an expensive lambda, is the
smell worth a decomposition probe; a factor of 1 with sites on token
arrays is the workload, not a bug. Known benign inflation: a cached
subtree (InMemoryRelation) renders its PHYSICAL plan inside the
optimized string, so a query whose cache body contains lambdas can show
a small spurious uplift.

    python tools/plan_shapes.py            # writes PLAN_SHAPES.json
    python tools/plan_shapes.py --check    # diffs against it, writes nothing

``--check`` exits 1 on any row that differs from the record, any
duplication suspect (factor > 1 or in-Filter sites) and any plan that
fails to build, so a shape change has to be committed on purpose.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from sdg_big_data_spark.plans import catalog  # noqa: E402
from sdg_big_data_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
RECORD = ROOT / "PLAN_SHAPES.json"
NODES = (
    "Exchange", "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
    "Expand", "CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
    "BroadcastHashJoin", "ObjectHashAggregate", "InMemoryTableScan",
)

# Expression-level markers of interpreted array lambdas in plan strings:
# the nearest function name whose argument list contains a
# lambdafunction(...) — e.g. ``transform(toks#12, lambdafunction(...``.
_HOF = re.compile(r"\b(\w+)\((?:[^()]|\([^()]*\))*?lambdafunction")
# The operator of one physical-plan line: tree drawing, an optional
# whole-stage-codegen marker ``*(3) ``, then the node name.
_NODE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\) )?(\w+)")


def _strip_initial_plans(plan: str) -> str:
    """Drop every ``== Initial Plan ==`` section from an AQE render.

    A MATERIALIZED InMemoryRelation prints its cachedPlan as
    ``AdaptiveSparkPlan isFinalPlan=true`` with BOTH the Final and the
    Initial plan bodies — the same single-execution build rendered
    twice — so raw ``lambdafunction(`` counts double for every query
    reading a cached/pinned subtree (all 20 tokenize-once consumers
    flagged spuriously the first time the audit ran after the shared
    corpus materialized before plan rendering). Only the Final body
    describes work that runs."""
    out: list[str] = []
    skip_indent: int | None = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip())
        if skip_indent is not None:
            if line.strip() and indent <= skip_indent:
                skip_indent = None
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def _node_counts(plan: str) -> dict[str, int]:
    counts = dict.fromkeys(NODES, 0)
    for line in plan.splitlines():
        m = _NODE.match(line)
        if m and m.group(1) in counts:
            counts[m.group(1)] += 1
    return counts


def _filter_sites(plan: str) -> int:
    n = 0
    for line in plan.splitlines():
        if line.lstrip("+-: ").startswith("Filter"):
            n += len(_HOF.findall(line))
    return n


def _diff(old: dict, new: dict) -> list[str]:
    """``query: field old -> new`` for every row that differs."""
    out = []
    for n in sorted(old.keys() | new.keys()):
        a, b = old.get(n) or {}, new.get(n) or {}
        if a != b:
            out.append(f"{n}: " + ", ".join(
                f"{k} {a.get(k)} -> {b.get(k)}"
                for k in dict.fromkeys([*a, *b]) if a.get(k) != b.get(k)
            ))
    return out


def main() -> int:
    check = "--check" in sys.argv[1:]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")  # sf0.001 plans
    spark = get_spark(
        app_name="plan-shapes", master="local[2]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    from sdg_big_data_spark.cachescope import cache_scope

    qs = catalog.queries()
    report: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        # Each plan is built in its own cache scope: a cache left live by
        # an EARLIER query's plan construction changes how a later plan
        # renders (InMemoryRelation substitution), which made the counts
        # depend on catalog ordering — the audit must measure each query
        # as a cold session would run it.
        try:
            with cache_scope():
                qe = fn(spark, SF_DIR)._jdf.queryExecution()
                an_plan = qe.analyzed().toString()
                opt_plan = qe.optimizedPlan().toString()
                phys_plan = qe.executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — record and continue
            report[name] = {"error": f"{type(e).__name__}: {str(e)[:120]}"}
            continue
        opt_plan = _strip_initial_plans(opt_plan)
        n_an = an_plan.count("lambdafunction(")
        n_opt = opt_plan.count("lambdafunction(")
        report[name] = {
            "analyzed_sites": n_an,
            "optimized_sites": n_opt,
            "dup_factor": round(n_opt / n_an, 2) if n_an else None,
            "in_filter": _filter_sites(opt_plan),
            **_node_counts(_strip_initial_plans(phys_plan)),
        }
    spark.stop()
    dup = [
        n for n, r in report.items()
        if "error" not in r
        and (r["in_filter"] or (r["dup_factor"] or 0) > 1.0)
    ]
    errors = [n for n, r in report.items() if "error" in r]
    old = json.loads(RECORD.read_text())["queries"] if RECORD.exists() else {}
    changed = _diff(old, report)
    if not check:
        out = {
            "sf_dir": SF_DIR,
            "queries_with_hofs": sum(
                1 for r in report.values()
                if r.get("analyzed_sites") or r.get("optimized_sites")
            ),
            "queries_total": len(qs),
            "duplication_suspects": dup,
            "errors": errors,
        }
        # one line per query, so a shape change is a one-line diff
        head = [f" {json.dumps(k)}: {json.dumps(v)}," for k, v in out.items()]
        rows = [f"  {json.dumps(n)}: {json.dumps(r)}" for n, r in report.items()]
        RECORD.write_text(
            "{\n" + "\n".join(head) + '\n "queries": {\n'
            + ",\n".join(rows) + "\n }\n}\n"
        )
    for line in changed:
        print(f"  shape changed {line}")
    for n in dup + errors:
        kind = "plan error" if n in errors else "duplication suspect"
        print(f"  {kind} {n}: {report[n]}")
    print(
        f"{len(report)} plan shapes {'checked against' if check else '->'} "
        f"{RECORD.name}: {len(changed)} changed, {len(dup)} duplication "
        f"suspects (factor>1 or in-Filter sites), {len(errors)} errors"
    )
    return int(check and bool(changed or dup or errors))


if __name__ == "__main__":
    raise SystemExit(main())
