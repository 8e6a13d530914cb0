"""Derive the frozen workload membership in ``perfbench/workloads.json``.

The rule, applied to every catalog query:

- ``udf_sf01``: the physical plan holds a Python-evaluation node
  (``ArrowEvalPython``, ``BatchEvalPython``, ``MapInPandas``,
  ``MapInArrow``, ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInPandas``,
  ``AggregateInPandas``, ``WindowInPandas``, ``PythonUDTF``);
- ``tail_sf01``: no such node, and a median under 0.6 s in the
  committed full-catalog record ``BENCH_FULL.json`` at the repo root.

Plans are taken on generated sf0.1 inputs (``gen.py``, seed 0). The
per-run set of ``tail_sf01`` follows from the membership too: members
ordered by their ``BENCH_FULL.json`` median (then name), every 13th from
the 7th. The other run sets are kept by hand in ``workloads.json`` (its
``rule`` block says why).

The script prints the lists and the per-query plan scan; it rewrites
``workloads.json`` only with ``--write``, so a later catalog addition
never changes a workload silently.

    python3 perfbench/membership.py [--write]
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "PythonUDTF",
)
TAIL_CUT_S = 0.6


def python_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sorted({n for n in PY_NODES if n in plan})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()

    import gen
    from sdg_big_data_spark.cachescope import release_caches, sweep_unpinned
    from sdg_big_data_spark.plans import catalog
    from layers import stop_engine

    from sdg_big_data_spark.session import get_spark

    record = json.loads((ROOT / "BENCH_FULL.json").read_text())["queries"]
    spark = get_spark(app_name="perfbench-membership")
    spark.sparkContext.setLogLevel("ERROR")
    catalog.queries()
    scan = {}
    with tempfile.TemporaryDirectory(prefix="perfbench-membership-") as data:
        gen.write(0, 0.1, data)
        for name, spec in sorted(catalog.REGISTRY.items()):
            scan[name] = python_nodes(spec.fn(spark, data))
            release_caches()
            sweep_unpinned(spark)
    stop_engine()
    udf = sorted(n for n, nodes in scan.items() if nodes)
    tail = sorted(
        n for n, nodes in scan.items()
        if not nodes and record.get(n, float("inf")) < TAIL_CUT_S
    )
    path = HERE / "workloads.json"
    doc = json.loads(path.read_text())
    run = tail_run_set(tail, record)
    print(json.dumps({"plan_scan": {n: v for n, v in scan.items() if v}}, indent=1))
    print(f"udf_sf01: {len(udf)} queries; tail_sf01: {len(tail)} queries "
          f"(sum {sum(record[n] for n in tail):.1f} s in BENCH_FULL.json); "
          f"tail_sf01 run set: {run}")
    if a.write:
        doc["tail_sf01"].update(queries=tail, run=run)
        doc["udf_sf01"].update(queries=udf)
        path.write_text(json.dumps(doc, indent=1) + "\n")
    return 0


def tail_run_set(tail: list[str], record: dict) -> list[str]:
    ordered = sorted(tail, key=lambda n: (record[n], n))
    return ordered[6::13]


if __name__ == "__main__":
    raise SystemExit(main())
