#!/usr/bin/env python
"""Round-close checklist — regenerate every derived record that a round
of engine changes can silently obsolete (r7 judge item 3: the ledger
and the sf0.1 anchor both went stale because regeneration was manual).

Steps, in order:

1. ``DRIVER_LEDGER.md``   — tools/driver_ledger.py over all
   CORRECTNESS_r*.json (cumulative driver-correctness state).
2. ``PLAN_SHAPES.json``   — tools/plan_shapes.py per-query plan shapes
   (interpreted-lambda duplication suspects and plan errors must stay
   empty).
3. ``BENCH_ANCHOR_SF01.json`` — a fresh full-catalog bench.py run at
   sf0.1 copied over the anchor record, so round-over-round per-query
   comparisons always have a same-catalog baseline.

Each step is a subprocess so one failure doesn't mask the others; exit
status is non-zero if any step failed.

    python tools/round_close.py            # all steps
    python tools/round_close.py --skip-bench   # records only
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(cmd: list[str], **env_extra) -> int:
    import os

    env = dict(os.environ)
    env.update(env_extra)
    print(f"== {' '.join(cmd)}", flush=True)
    return subprocess.call(cmd, cwd=ROOT, env=env)


def main() -> int:
    skip_bench = "--skip-bench" in sys.argv
    rc = 0
    rc |= run([sys.executable, "tools/driver_ledger.py"])
    rc |= run([sys.executable, "tools/plan_shapes.py"])
    # re-stamp QUERY_HASHES.json for the queries the latest round
    # sampled, so the changed-since-sampled ordering tier rotates
    rc |= run([sys.executable, "tools/query_hashes.py"])
    if not skip_bench:
        bench_rc = run(
            [sys.executable, "bench.py"],
            SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
        )
        rc |= bench_rc
        full = ROOT / "BENCH_FULL.json"
        if bench_rc == 0 and full.exists():
            rec = json.loads(full.read_text())
            if rec.get("sf") == 0.1 and not rec.get("errors"):
                shutil.copy(full, ROOT / "BENCH_ANCHOR_SF01.json")
                print(
                    f"anchor refreshed: {rec['n_queries']} queries, "
                    f"{rec['value']} s total"
                )
            else:
                print("anchor NOT refreshed (errors or wrong sf)", file=sys.stderr)
                rc |= 1
    shapes = json.loads((ROOT / "PLAN_SHAPES.json").read_text())
    for key in ("duplication_suspects", "errors"):
        if shapes.get(key):
            print(f"PLAN_SHAPES {key}: {shapes[key]}", file=sys.stderr)
            rc |= 1
    rc |= count_consistency_gate()
    return rc


def count_consistency_gate() -> int:
    """Fail (rc=1) if any derived record's query count differs from the
    live catalog's — a catalog entry added AFTER round close otherwise
    leaves stale derived records until the next round (r9: the HOF
    audit said 211 on a 212-query tree for a full round)."""
    import re

    sys.path.insert(0, str(ROOT))
    from sdg_big_data_spark.plans import catalog

    n_cat = len(catalog.queries())
    counts: dict[str, int | None] = {}
    try:
        counts["PLAN_SHAPES.queries"] = len(
            json.loads((ROOT / "PLAN_SHAPES.json").read_text())["queries"]
        )
    except (OSError, ValueError, KeyError):
        counts["PLAN_SHAPES.queries"] = None
    try:
        counts["BENCH_ANCHOR_SF01.n_queries"] = json.loads(
            (ROOT / "BENCH_ANCHOR_SF01.json").read_text()
        ).get("n_queries")
    except (OSError, ValueError):
        counts["BENCH_ANCHOR_SF01.n_queries"] = None
    try:
        m = re.search(
            r"Catalog queries: (\d+)", (ROOT / "DRIVER_LEDGER.md").read_text()
        )
        counts["DRIVER_LEDGER.catalog"] = int(m.group(1)) if m else None
    except OSError:
        counts["DRIVER_LEDGER.catalog"] = None
    bad = {k: v for k, v in counts.items() if v != n_cat}
    if bad:
        print(
            f"count-consistency gate FAILED: catalog has {n_cat} queries "
            f"but derived records disagree: {bad} — re-run round_close "
            f"(without --skip-bench if the anchor is the stale one)",
            file=sys.stderr,
        )
        return 1
    print(f"count-consistency gate OK: {n_cat} queries everywhere")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
