#!/usr/bin/env python3
"""Self-test of the oracle check: it must be able to fail.

Runs one short ``tail_sf01`` run as is, and one with ``--alter``, which
drops one row from one query's result before the check. The altered
run must name the altered query among its failures, and its
``error_frac`` must be higher than the unaltered run's (which counts the
members that fail the oracle as they are). Exit code 0 when both hold.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOAD = "tail_sf01"


def run(*extra: str) -> dict:
    rec = HERE.parent / ".perfbench" / "selftest.json"
    subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", WORKLOAD,
         "--seed", "0", "--seconds", "1", "--trace", "0", "--out", str(rec),
         *extra],
        cwd=HERE.parent, capture_output=True, text=True, check=True,
    )
    out = json.loads(rec.read_text())
    rec.unlink()
    return out


def main() -> int:
    target = json.loads((HERE / "workloads.json").read_text())[WORKLOAD]["run"][0]
    clean = run()
    altered = run("--alter", target)
    ok = target not in clean["errors"] and target in altered["errors"]
    ok &= altered["error_frac"] > clean["error_frac"]
    keys = ("attempted", "failed", "judged", "error_frac", "errors")
    print(json.dumps({
        "altered_query": target,
        "clean": {k: clean[k] for k in keys},
        "altered": {k: altered[k] for k in keys},
        "pass": ok,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
