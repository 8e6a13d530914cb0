#!/usr/bin/env python3
"""Record this host's baseline for every workload into perfbench/baseline/.

For each workload this runs ``run.py`` four times on one seed: on the
per-run set for ``--seconds``, and on the full membership (``--full``)
for one timed pass, each untraced and traced. It writes:

- ``baseline/BASELINE.json``: the host (CPU count, Spark, pyarrow, duckdb,
  Java, driver heap), and per workload the end-to-end metrics, the
  per-layer totals, the tracing overhead, `error_frac` with the failing
  operations, and answers to the open profiling questions;
- ``baseline/trace_<workload>.json``: one row per traced query span (full
  membership).

It prints the seven end-to-end metrics of every workload by name with
their units.

    python3 perfbench/baseline.py [--seed 1] [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
OUT = HERE / "baseline"
WORKLOADS = ("tail_sf01", "udf_sf01", "pipelines_10x")
SPLIT = ("e_truncated_rerank", "e_ivf_topk", "e_near_dups")


def one(workload: str, seed: int, seconds: float, trace: int, full: bool) -> dict:
    rec = OUT / f".{workload}-{trace}-{int(full)}.json"
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--out", str(rec)] + (["--full"] if full else [])
    subprocess.run(cmd, cwd=HERE.parent, check=True, stdout=subprocess.DEVNULL)
    out = json.loads(rec.read_text())
    rec.unlink()
    return out


def host() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__, "python": platform.python_version(),
        "java": java.splitlines()[0] if java else None,
        "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "recorded": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def e2e(rec: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in rec["e2e"].items()}


def summary(untraced: dict, traced: dict) -> dict:
    return {
        "queries": untraced["ops_per_pass"], "passes": untraced["passes"],
        "samples": untraced["samples"], "attempted": untraced["attempted"],
        "failed": untraced["failed"], "error_frac": untraced["error_frac"],
        "judged": untraced["judged"],
        "errors": untraced["errors"], "traced_errors": traced["errors"],
        "steal_frac": untraced["steal_frac"],
        "check_pass_s": untraced["check_pass_s"], "e2e": e2e(untraced),
        "per_query_s": untraced["per_query_s"],
        "layers": traced["layers"],
        "tracing_overhead": {
            "untraced_wall_s": untraced["e2e"]["wall_s"][0],
            "traced_wall_s": traced["e2e"]["wall_s"][0],
            "ratio": traced["e2e"]["wall_s"][0] / untraced["e2e"]["wall_s"][0],
        },
        "python_zero_on_every_query": all(
            s[k] == 0 for s in traced["spans"] for k in s if k.startswith("python.")
        ),
    }


def answers(full: dict) -> dict:
    """The profiling questions the roadmap leaves open, from the spans."""
    rows = {w: {s["query"]: s for s in full[w]["spans"]} for w in full}
    out = {}
    for q in SPLIT:
        s = rows["udf_sf01"][q]
        # python.run_s spans the whole crossing, worker start included
        rest = s["python.run_s"] - s["python.init_s"]
        out[q] = {
            "python.init_s": s["python.init_s"], "python.run_s": s["python.run_s"],
            "python_run_after_start_s": rest,
            "init_larger_than_rest_of_run": s["python.init_s"] > rest,
            "exec.executor_run_s": s["exec.executor_run_s"], "wall_s": s["wall_s"],
        }
    for w in ("pipelines_10x", "udf_sf01"):
        s = rows[w]["m_mobility_e2e"]
        out[f"m_mobility_e2e@{w}"] = {
            k: s[k] for k in (
                "wall_s", "plans.build_s", "exec.build_jobs_s", "exec.s",
                "python.init_s", "python.run_s", "exec.executor_run_s",
                "exec.jobs", "plans.build_jobs",
            )
        } | {
            "python_run_share_of_executor_time":
                s["python.run_s"] / s["exec.executor_run_s"]
                if s["exec.executor_run_s"] else None,
        }
    return out


def _round(x):
    if isinstance(x, float):
        return float(f"{x:.6g}")
    if isinstance(x, dict):
        return {k: _round(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_round(v) for v in x]
    return x


def write_trace(path: Path, workload: str, seed: int, spans: list[dict]) -> None:
    """One span per line, floats to 6 significant digits."""
    rows = ",\n".join(json.dumps(_round(s), separators=(",", ":")) for s in spans)
    path.write_text(
        f'{{"workload": "{workload}", "seed": {seed}, "spans": [\n{rows}\n]}}\n'
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    OUT.mkdir(exist_ok=True)
    doc = {"host": host(), "seed": a.seed, "seconds": a.seconds,
           "runset": {}, "full": {}}
    full_traced = {}
    for w in WORKLOADS:
        for kind, full in (("runset", False), ("full", True)):
            secs = 1 if full else a.seconds  # a full pass is long enough
            u = one(w, a.seed, secs, 0, full)
            t = one(w, a.seed, secs, 1, full)
            doc[kind][w] = summary(u, t)
            for k, m in doc[kind][w]["e2e"].items():
                print(f"{kind} {w} {k} = {m['value']:.6g} {m['unit']}", flush=True)
            print(f"{kind} {w} error_frac = {u['error_frac']:.6g} ratio", flush=True)
            if full:
                full_traced[w] = t
                write_trace(OUT / f"trace_{w}.json", w, a.seed, t["spans"])
    doc["answers"] = answers(full_traced)
    (OUT / "BASELINE.json").write_text(json.dumps(doc, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
