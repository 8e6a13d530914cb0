#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client, named workloads, oracle check.

    python3 perfbench/run.py --workload tail_sf01 --seed 1 --seconds 10 --trace 0

One run, from the root of a checkout:

1. builds (or reuses) the workload's generated fixture under
   ``.perfbench/`` — preparation, timed as ``fixture_build_s`` and kept
   out of ``setup_s``;
2. sets the engine up (``get_spark``, ``ship_package``, the
   session-pinned token corpus), timed as ``setup_s``;
3. runs one check pass: every query's result is digested and compared
   with the DuckDB oracle (the pass also warms the JVM);
4. runs timed passes, each in a seed-permuted order, one query at a time,
   until ``--seconds`` have elapsed and at least the workload's
   ``passes`` (default two) are done (the pass in flight is finished).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every query runs under a span (``layers.Tracer``) and
the line carries the per-layer metrics. README.md has the glossary.
"""

from __future__ import annotations

import argparse
import atexit
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

WORKLOADS = json.loads((HERE / "workloads.json").read_text())
FIXTURE_SEED = 42  # the fixture is fixed; --seed drives order and batches
# timed passes at least, whatever --seconds says (a workload's "passes"
# can ask for more): wall_s is a median over passes
MIN_PASSES = 2
# printed and recorded, but not in the result line: a run's 15-20 samples
# leave fewer than ten beyond p90, so it is in effect one query's latency
UNBOUNDED = ("query_p90_s",)


def _sha(*paths: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _env() -> None:
    """Engine settings of the benchmark; every path stays in the checkout."""
    runs = STATE / "tmp"
    runs.mkdir(parents=True, exist_ok=True)
    for d in runs.iterdir():  # left behind by runs that were killed
        if not Path(f"/proc/{d.name}").exists():
            shutil.rmtree(d, ignore_errors=True)
    tmp = runs / str(os.getpid())
    tmp.mkdir()
    atexit.register(shutil.rmtree, tmp, True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(ncpu))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        x for x in (
            extra,
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={STATE / 'warehouse'}",
        ) if x
    )


def fixture(spec: dict) -> tuple[str, str, float]:
    """(data dir, signature, build seconds) of the workload's fixture;
    built once per signature and reused by later runs."""
    import gen

    sf, factor = spec["sf"], spec.get("factor", 1)
    base = STATE / "data" / f"sf{sf}-s{FIXTURE_SEED}-{_sha(HERE / 'gen.py')}"
    out = base
    if factor > 1:
        out = base.with_name(f"{base.name}-x{factor}-{_sha(ROOT / 'tools' / 'scale_up.py')}")
    sig = out.name
    if out.exists():
        return str(out), sig, 0.0
    t0 = time.perf_counter()
    if not base.exists():
        tmp = base.with_name(base.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write(FIXTURE_SEED, sf, str(tmp))
        tmp.rename(base)
    if factor > 1:
        # in a child process, so that the run's own set-up still launches
        # the JVM and setup_s means the same on a first run as on later ones
        from layers import ProcTree, end_all

        child = subprocess.Popen([
            sys.executable, "-c",
            f"import run; run._scale_up({str(base)!r}, {str(out)!r}, {factor})",
        ], cwd=HERE)
        try:
            code = child.wait()
        finally:
            if child.poll() is None:  # interrupted: the child and its JVM go too
                end_all(ProcTree().snapshot(), grace=0)
        if code != 0:
            raise RuntimeError(f"fixture scale-up exited with {code}")
    return str(out), sig, time.perf_counter() - t0


def _scale_up(src: str, dst: str, factor: int) -> None:
    """``tools/scale_up.py`` on the base fixture, in a throwaway session."""
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    from scale_up import FIXED_DIMS, scaled

    from layers import stop_engine

    from sdg_big_data_spark.session import get_spark
    from sdg_big_data_spark.sources.readers import read_table

    spark = get_spark(app_name="perfbench-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    n_files = max(4, int(4 * factor**0.5))
    for t in sorted(p[:-8] for p in os.listdir(src) if p.endswith(".parquet")):
        df = read_table(spark, src, t)
        path = os.path.join(tmp, f"{t}.parquet")
        if t in FIXED_DIMS:
            df.write.parquet(path)
        else:
            scaled(df, t, factor).repartition(n_files).write.parquet(path)
    stop_engine()
    os.rename(tmp, dst)


class Engine:
    """The engine's session layer, set up and torn down as a unit."""

    def __init__(self, data: str):
        self.data = data
        self.spark = None

    def setup(self) -> dict:
        from sdg_big_data_spark.plans.shared_corpus import tokenized_documents
        from sdg_big_data_spark.session import get_spark, ship_package

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        ship_package(self.spark)
        t2 = time.perf_counter()
        tokenized_documents(self.spark, self.data)
        t3 = time.perf_counter()
        return {
            "setup_s": t3 - t0, "session.start_s": t1 - t0,
            "session.ship_s": t2 - t1, "plans.corpus_build_s": t3 - t2,
        }

    def release(self) -> None:
        from sdg_big_data_spark.cachescope import release_caches, sweep_unpinned

        release_caches()
        sweep_unpinned(self.spark)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Appends:
    """The mobility append cadence on the fixture's ``events``: date
    batches with seed-chosen boundaries go through
    ``incremental_append`` (2-day overlap, dynamic partition
    overwrite); the target is re-read through ``read_table`` after each
    batch and its row count checked against DuckDB's count of the
    fixture up to the batch end."""

    TABLE = "append_target"

    def __init__(self, data: str, n_batches: int, n_days: int):
        import duckdb

        self.data = data
        self.n = n_batches
        self.work = Path(os.environ["TMPDIR"])
        con = duckdb.connect()
        src = f"read_parquet('{data}/events.parquet/**/*.parquet')"
        self.days = [
            r[0] for r in con.execute(
                f"SELECT DISTINCT CAST(ts AS DATE) d FROM {src} ORDER BY d"
            ).fetchall()
        ][:n_days]
        self.upto = dict(con.execute(
            f"SELECT d, sum(n) OVER (ORDER BY d) FROM (SELECT CAST(ts AS DATE) d, "
            f"count(DISTINCT event_id) n FROM {src} GROUP BY d)"
        ).fetchall())
        con.close()

    def batches(self, rng: random.Random) -> list[tuple]:
        """Seed-chosen boundaries: an even split with each cut moved by up
        to a quarter of a batch, so batch sizes stay close across seeds."""
        step = len(self.days) / self.n
        jit = max(1, int(step / 4))
        cuts = [round(i * step) + rng.randint(-jit, jit) for i in range(1, self.n)]
        edges = [0, *cuts, len(self.days)]
        return [(self.days[a], self.days[b - 1]) for a, b in zip(edges, edges[1:])]

    def reset(self) -> None:
        shutil.rmtree(self.work / f"{self.TABLE}.parquet", ignore_errors=True)

    def step(self, spark, lo, hi) -> bool:
        """Append one batch; True when the re-read target is correct."""
        import pyspark.sql.functions as F

        from sdg_big_data_spark.sources.readers import read_table
        from sdg_big_data_spark.streaming.incremental import incremental_append

        ev = read_table(spark, self.data, "events")
        batch = ev.where(
            (F.to_date("ts") >= F.lit(lo)) & (F.to_date("ts") <= F.lit(hi))
        ).withColumn("date", F.col("ts"))
        target = str(self.work / f"{self.TABLE}.parquet")
        incremental_append(spark, batch, target, "date", ["event_id"], ["ts"], 2)
        n = read_table(spark, str(self.work), self.TABLE).count()
        return n == self.upto[hi]


def _cpu_stat() -> tuple[int, int]:
    """(all ticks, steal ticks) of the host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def _quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def run(args) -> dict:
    spec = WORKLOADS[args.workload]
    names = spec["queries"] if args.full else spec["run"]
    data, sig, fixture_s = fixture(spec)
    if not args.full:  # fixture builds and full-membership runs take longer
        signal.signal(signal.SIGALRM, _deadline)
        signal.alarm(DEADLINE_S)

    from layers import ProcTree, RssSampler, Tracer
    from oracle import Oracle

    from sdg_big_data_spark.plans import catalog

    catalog.queries()
    registry = catalog.REGISTRY
    tree = ProcTree()
    sampler = RssSampler(tree)
    sampler.start()
    eng = Engine(data)
    setup = eng.setup()
    spark = eng.spark
    appends = (
        Appends(data, spec["append_batches"], spec["append_days"])
        if spec.get("append_batches") else None
    )
    oracle = Oracle(data, sig, STATE / "oracle-cache.json")
    rng = random.Random(args.seed)
    tracer = None
    attempted = failed = judged = 0
    bad: dict[str, str] = {}
    lat: dict[str, list[float]] = {}

    def build(q):
        df = registry[q].fn(spark, data)
        if q == args.alter:  # self-test: a deliberately wrong engine result
            df = df.limit(max(0, df.count() - 1))
        return df

    def op(name, build, act, why) -> None:
        """Run one operation; a raise or a False result counts as failed
        and the operation stays in the record. ``judged`` counts the
        operations whose result was checked (act returned a bool) or that
        raised: the denominator of ``error_frac``."""
        nonlocal attempted, failed, judged
        attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer:
                span, ok = tracer.run_query(name, build, act, eng.release)
                if name.startswith("append_"):
                    span["streaming.append_s"] = span["wall_s"]
                    span["streaming.append_batches"] = 1
                if "layer_check" in span:
                    ok, why = False, f"layer check: {span['layer_check']}"
            else:
                ok = act(build())
                eng.release()
        except Exception as e:  # noqa: BLE001 — counted, never dropped
            eng.release()
            ok, why = False, f"{type(e).__name__}: {str(e)[:160]}"
        lat.setdefault(name, []).append(time.perf_counter() - t0)
        judged += ok is not None
        if ok is False:
            failed += 1
            bad[name] = why

    def one_pass(check: bool) -> None:
        order = list(names)
        rng.shuffle(order)
        for q in order:
            act = (lambda df, q=q: oracle.check(q, df, registry[q].sql)) if check else noop
            op(q, lambda q=q: build(q), act, "oracle digest mismatch")
        if appends:
            appends.reset()
            for i, (lo, hi) in enumerate(appends.batches(rng)):
                op(f"append_b{i}", lambda: None,
                   lambda _, lo=lo, hi=hi: appends.step(spark, lo, hi),
                   "target row count mismatch")

    # check pass: every result against the oracle (also the warm-up)
    t0 = time.perf_counter()
    one_pass(check=True)
    check_s = time.perf_counter() - t0
    lat.clear()
    print(f"perfbench: setup {setup['setup_s']:.2f} s, "
          f"check pass {check_s:.1f} s", file=sys.stderr)

    # timed passes, closed loop
    tracer = Tracer(spark) if args.trace else None
    pass_walls: list[float] = []
    pass_cpu: list[float] = []
    stat0 = _cpu_stat()
    t_end = time.perf_counter() + args.seconds
    min_passes = spec.get("passes", MIN_PASSES)
    while len(pass_walls) < min_passes or time.perf_counter() < t_end:
        c0, w0 = tree.cpu_s(), time.perf_counter()
        one_pass(check=False)
        pass_walls.append(time.perf_counter() - w0)
        pass_cpu.append(tree.cpu_s() - c0)
    stat1 = _cpu_stat()
    if tracer:
        tracer.close()
    eng.stop()
    peak = sampler.stop()
    signal.alarm(0)

    samples = [x for v in lat.values() for x in v]
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (statistics.median(pass_walls), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_p90_s": (_quantile(samples, 0.9), "s"),
        "cpu_s": (statistics.median(pass_cpu), "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }
    out = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops_per_pass": len(lat), "passes": len(pass_walls),
        "samples": len(samples), "attempted": attempted, "failed": failed,
        "judged": judged, "errors": bad, "error_frac": failed / judged,
        "fixture": sig, "fixture_build_s": fixture_s, "check_pass_s": check_s,
        "pass_walls_s": pass_walls,
        # share of the host's CPU time the hypervisor gave to other guests
        # during the timed passes: wall times inflate with it
        "steal_frac": (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0]),
        "e2e": e2e,
        "per_query_s": {q: statistics.median(v) for q, v in lat.items()},
    }
    if tracer:
        out["layers"] = layer_totals(tracer.spans, setup, len(pass_walls))
        out["spans"] = tracer.spans
    return out


def layer_totals(spans, setup, passes) -> dict:
    """Per-workload layer metrics: sums per timed pass, with ratios and
    maxima where a sum means nothing."""
    from layers import SPAN_KEYS

    tot = {k: sum(s[k] for s in spans) / passes for k in SPAN_KEYS if k != "wall_s"}
    calls = sum(s["sources.read_table_calls"] for s in spans)
    tot["sources.memo_hit_ratio"] = (
        sum(s["sources.memo_hits"] for s in spans) / calls if calls else 0.0
    )
    del tot["sources.memo_hits"]
    for k in ("cachescope.storage_peak_bytes", "cachescope.live_caches_after",
              "exec.peak_exec_mem_bytes"):
        tot[k] = max((s[k] for s in spans), default=0)
    for k in ("session.start_s", "session.ship_s", "plans.corpus_build_s"):
        tot[k] = setup[k]
    return tot


UNITS = {"_s": "s", ".s": "s", "_bytes": "B", "_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


DEADLINE_S = 170


def _deadline(*_) -> None:
    """A run that hangs is stopped with its whole process tree, and
    exits non-zero without a result line."""
    from layers import ProcTree, end_all

    print(f"perfbench: no result after {DEADLINE_S} s", file=sys.stderr)
    end_all(ProcTree().snapshot(), grace=0, term=0)
    os._exit(3)


def _terminated(signum, _) -> None:
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="run the whole frozen membership, not the run set")
    ap.add_argument("--alter", default=None,
                    help="self-test: drop one row of this query's result")
    ap.add_argument("--out", default=None, help="write the full record here")
    args = ap.parse_args()
    if not (ROOT / "sdg_big_data_spark").is_dir():
        print("perfbench: engine package sdg_big_data_spark not found", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    _env()
    from layers import stop_engine

    signal.signal(signal.SIGTERM, _terminated)
    try:
        rec = run(args)
    finally:  # on every way out: no process of the run outlives it
        stop_engine()
    for k, (v, u) in rec["e2e"].items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    print(f"{args.workload} error_frac = {rec['error_frac']:.6g} ratio "
          f"({rec['failed']}/{rec['judged']} checked)")
    if rec["errors"]:
        print(f"{args.workload} errors: {json.dumps(rec['errors'])}")
    if args.out:
        Path(args.out).write_text(json.dumps(rec, indent=1, default=str) + "\n")
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in rec["layers"].items()}
    else:
        metrics = {
            k: {"value": v, "unit": u} for k, (v, u) in rec["e2e"].items()
            if k not in UNBOUNDED
        }
    print(json.dumps({
        "correct": rec["failed"] == 0, "attempted": rec["attempted"],
        "failed": rec["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
