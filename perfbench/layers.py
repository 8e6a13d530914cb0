"""Layer instruments read from outside the engine.

- :class:`ProcTree` sums CPU and resident memory over this process and
  every descendant (the driver JVM, the PySpark daemon, its workers).
- :class:`Tracer` times calls into the engine's public layer functions
  and, after each action, reads Spark's own query-execution tracker
  (through a ``QueryExecutionListener``) and status stores: jobs,
  stages, and the SQL plan-node metrics of every execution the query
  ran. Spans stay in memory until the run writes them out.

No engine module is changed: ``sources.readers.read_table`` is wrapped
at its module attribute (and at any module that imported it by name)
only while a traced run is active.
"""

from __future__ import annotations

import os
import re
import signal
import threading
import time

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """CPU seconds and RSS of this process plus all live descendants;
    CPU of reaped descendants is included through their parents'
    ``cutime``/``cstime``."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _procs(self) -> list[list[str]]:
        stats, children = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            fields = s[s.rfind(")") + 2:].split() + [d]
            stats[int(d)] = fields
            children.setdefault(int(fields[1]), []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            if p in stats:
                out.append(stats[p])
                todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        # fields after the comm: state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14 ... rss=21
        return sum(
            sum(int(f[i]) for i in (11, 12, 13, 14)) for f in self._procs()
        ) / CLK

    def rss_pages(self) -> dict[int, int]:
        return {int(f[-1]): int(f[21]) for f in self._procs()}

    def snapshot(self) -> dict[int, str]:
        """{pid: start time} of every live descendant (the root excluded)."""
        return {int(f[-1]): f[19] for f in reversed(self._procs()[1:])}


def _running(pid: int, start: str) -> bool:
    """True while ``pid`` is the process that started at ``start`` and has
    not exited; a zombie child of this process is reaped on the way."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    fields = s[s.rfind(")") + 2:].split()
    if fields[19] != start:
        return False  # the pid was reused
    if fields[0] == "Z" and int(fields[1]) == os.getpid():
        # a killed multi-threaded child shows Z before its last thread
        # has exited, and cannot be reaped until then
        try:
            return os.waitpid(pid, os.WNOHANG)[0] != pid
        except ChildProcessError:
            return False
    return fields[0] != "Z"


def end_all(procs: dict[int, str], grace: float, term: float = 5.0) -> list[int]:
    """Wait until every process of ``procs`` (a :meth:`ProcTree.snapshot`)
    has ended: ``grace`` seconds on its own, then ``term`` seconds after
    SIGTERM, then SIGKILL. Returns the pids that were still running at
    the end (none unless a SIGKILL'd process hangs in the kernel)."""

    def wait(left: dict[int, str], secs: float) -> dict[int, str]:
        t_end = time.monotonic() + secs
        while True:
            left = {p: st for p, st in left.items() if _running(p, st)}
            if not left or time.monotonic() >= t_end:
                return left
            time.sleep(0.05)

    left = wait(procs, grace)
    for sig, secs in ((signal.SIGTERM, term), (signal.SIGKILL, 10.0)):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        left = wait(left, secs)
    return sorted(left)


class RssSampler(threading.Thread):
    """Peak of the summed tree RSS, sampled every ``period`` seconds.

    A process counts only once it has been seen in two samples in a row:
    a child the JVM forks to exec a helper briefly reports the whole
    JVM's resident pages as its own, which doubled the sum in one run."""

    def __init__(self, tree: ProcTree, period: float = 0.1):
        super().__init__(daemon=True)
        self.tree, self.period = tree, period
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        prev: dict[int, int] = {}
        while not self._halt.is_set():
            cur = self.tree.rss_pages()
            pages = sum(n for pid, n in cur.items() if pid in prev)
            self.peak = max(self.peak, pages * PAGE)
            prev = cur
            self._halt.wait(self.period)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def stop_engine(grace: float = 30.0) -> None:
    """Stop the Spark session and its gateway JVM, then wait until every
    process this one started has ended. The JVM exits on end of file on
    its stdin, so that is closed and the JVM waited for; anything still
    running after ``grace`` seconds is killed (see :func:`end_all`)."""
    import sys
    from subprocess import TimeoutExpired

    procs = ProcTree().snapshot()
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        for active in (SparkSession._instantiatedSession,
                       SparkContext._active_spark_context):
            if active is not None:
                try:
                    active.stop()
                except Exception:  # noqa: BLE001 — the JVM may be gone
                    pass
        gw = SparkContext._gateway
        if gw is not None:
            SparkContext._gateway = SparkContext._jvm = None
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(grace)
                except (OSError, TimeoutExpired):
                    proc.kill()
                    proc.wait()
    left = end_all(procs, grace)
    if left:
        print(f"perfbench: processes {left} did not end", file=sys.stderr)


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}


def metric_value(text: str) -> float:
    """Parse a SQL plan-node metric string (``'2.4 s'``, ``'9,995'``,
    ``'total (min, med, max ...)\\n918 ms (...)'``) into seconds, bytes
    or a count."""
    line = text.split("\n", 1)[-1].strip()
    m = re.match(r"([-0-9.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# plan-node metric name -> span counter. Spark 4.1 times a Python crossing
# from the JVM runner's start: "start" is start -> worker main() entered,
# "run" is start -> worker finished, so run includes start. "time to
# initialize Python workers" is left out: a reused worker stamps main()
# when it goes idle, so that metric counts the worker's idle time in the
# pool and is not bounded by task time.
NODE_METRICS = {
    "time to start Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to collect": "exec.broadcast_s",
    "time to build": "exec.broadcast_s",
    "time to broadcast": "exec.broadcast_s",
    "number of written files": "sources.files_written",
    "written output": "sources.write_bytes",
}

PYTHON_TIMES = ("python.init_s", "python.run_s")

# counters every query span carries (0 when the layer did no work)
SPAN_KEYS = (
    "wall_s", "plans.build_s", "plans.build_jobs", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "exec.s",
    "exec.build_jobs_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.executor_run_s", "exec.executor_cpu_s",
    "exec.gc_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_fetch_wait_s", "exec.spill_bytes", "exec.broadcast_s",
    "exec.peak_exec_mem_bytes", "sources.read_table_calls",
    "sources.read_table_s", "sources.memo_hits", "sources.scan_bytes",
    "sources.scan_rows", "sources.write_s", "sources.write_bytes",
    "sources.files_written", "python.nodes", "python.init_s",
    "python.run_s", "python.bytes_sent", "python.bytes_returned",
    "cachescope.release_s", "cachescope.storage_peak_bytes",
    "cachescope.live_caches_after", "streaming.append_s",
    "streaming.append_batches", "unattributed_s",
)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _stage(store, stage_id):
    """The stage's last attempt, or None when the store no longer holds
    it (a stage skipped by this job and evicted since it last ran)."""
    try:
        return store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 — py4j wraps NoSuchElementException
        return None


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class Tracer:
    """Per-query spans for one SparkSession."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._origin = time.perf_counter()
        self._phases: list[dict] = []
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _Listener(self._phases)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._job_wm = self._max_job()
        self._exec_wm = self._max_exec()
        self._read = {"calls": 0, "s": 0.0, "hits": 0}
        self._seen: dict[int, object] = {}
        self._patch_read_table()

    # -- engine wrappers -------------------------------------------------
    def _patch_read_table(self) -> None:
        import sys

        from sdg_big_data_spark.sources import readers

        orig = readers.read_table
        self._orig_read = orig
        read = self._read
        seen = self._seen

        def read_table(*a, **kw):
            t0 = time.perf_counter()
            df = orig(*a, **kw)
            read["s"] += time.perf_counter() - t0
            read["calls"] += 1
            if id(df) in seen:
                read["hits"] += 1
            seen[id(df)] = df  # keep alive so ids stay unique
            return df

        self._patched = [
            mod for mod in list(sys.modules.values())
            if getattr(mod, "__name__", "").startswith("sdg_big_data_spark")
            and getattr(mod, "read_table", None) is orig
        ]
        for mod in self._patched:
            mod.read_table = read_table

    def close(self) -> None:
        for mod in self._patched:
            mod.read_table = self._orig_read
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    # -- status-store readers --------------------------------------------
    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _max_exec(self) -> int:
        ex = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def _jobs_since(self, span: dict, wm: int) -> tuple[int, float]:
        """Add stage metrics of jobs after ``wm`` to ``span``; return the
        new job watermark and the seconds covered by those jobs (the
        union of their intervals: one action can run jobs concurrently)."""
        store = self._jsc.statusStore()
        top = self._max_job()
        spans = []
        stages = {}  # stage id -> last attempt; jobs list the stages they skip
        for jid in range(wm + 1, top + 1):
            try:
                j = store.job(jid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            s0, s1 = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if s0 is not None and s1 is not None:
                spans.append((s0, s1))
            ids = j.stageIds()
            job_stages = {ids.apply(i): _stage(store, ids.apply(i)) for i in range(ids.size())}
            job_stages = {k: v for k, v in job_stages.items() if v is not None}
            if any(st.outputBytes() > 0 for st in job_stages.values()):
                span["sources.write_s"] += (s1 or 0) - (s0 or 0)
            stages.update(job_stages)
        for s in stages.values():
            span["exec.stages"] += 1
            span["exec.tasks"] += s.numCompleteTasks()
            span["exec.executor_run_s"] += s.executorRunTime() / 1e3
            span["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
            span["exec.gc_s"] += s.jvmGcTime() / 1e3
            span["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            span["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            span["exec.shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            span["exec.spill_bytes"] += s.diskBytesSpilled()
            span["exec.peak_exec_mem_bytes"] = max(
                span["exec.peak_exec_mem_bytes"], s.peakExecutionMemory()
            )
            span["sources.scan_bytes"] += s.inputBytes()
            span["sources.scan_rows"] += s.inputRecords()
        span["exec.jobs"] += max(0, top - wm)
        return top, _union(spans)

    def _executions_since(self, span: dict) -> int:
        """Add the plan-node metrics of the query's executions to ``span``.

        A cached plan shows up under every node that reads it, and in
        every later execution, with the same accumulators: each
        accumulator counts once per query, at the largest value shown.
        Returns the number of Python timing accumulators counted."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        ex = store.executionsList()
        top = self._exec_wm
        accs: dict[int, tuple[str, float]] = {}
        python_nodes: set[frozenset] = set()
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= self._exec_wm:
                continue
            top = max(top, eid)
            vals = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                mets = nodes.apply(n).metrics()
                python = set()
                for k in range(mets.size()):
                    m = mets.apply(k)
                    key = NODE_METRICS.get(m.name())
                    if key is None:
                        continue
                    aid = m.accumulatorId()
                    if key.startswith("python."):
                        python.add(aid)
                    v = vals.get(aid)
                    x = metric_value(v.get()) if v.isDefined() else 0.0
                    accs[aid] = (key, max(x, accs.get(aid, (key, 0.0))[1]))
                if python:
                    python_nodes.add(frozenset(python))
        for key, x in accs.values():
            span[key] += x
        span["python.nodes"] += len(python_nodes)
        self._exec_wm = top
        return sum(1 for key, _ in accs.values() if key in PYTHON_TIMES)

    def _storage_bytes(self) -> int:
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def _live_caches(self) -> int:
        from sdg_big_data_spark import cachescope

        app = self.sc.applicationId
        pinned = {r for a, r in cachescope._PINNED_IDS if a == app}
        ids = self.sc._jsc.getPersistentRDDs().keySet().toArray()
        return sum(1 for i in ids if i not in pinned)

    # -- one query -------------------------------------------------------
    def run_query(self, name: str, build, act, release) -> tuple[dict, object]:
        """Build, act and release one query under a span; returns the
        span and what ``act`` returned. ``build`` may return None for an
        operation that is all action (an append batch)."""
        span = dict.fromkeys(SPAN_KEYS, 0.0)
        span["query"] = name
        r0 = dict(self._read)
        self._phases.clear()
        t0 = time.perf_counter()
        df = build()
        t_build = time.perf_counter() - t0
        tm = time.perf_counter()  # the tracer's own reads are not the query's
        self._drain()
        self._job_wm, build_jobs_s = self._jobs_since(span, self._job_wm)
        span["plans.build_jobs"] = span["exec.jobs"]
        build_cat = self._take_phases(span)
        df_ana = 0.0
        if df is not None:
            ana = df._jdf.queryExecution().tracker().phases().get("analysis")
            df_ana = ana.get().durationMs() / 1e3 if ana.isDefined() else 0.0
        span["catalyst.analysis_s"] += df_ana
        t1 = time.perf_counter()
        traced = t1 - tm
        result = act(df)
        t_act = time.perf_counter() - t1
        tm = time.perf_counter()
        self._drain()
        span["cachescope.storage_peak_bytes"] = self._storage_bytes()
        t2 = time.perf_counter()
        traced += t2 - tm
        release()
        t_rel = time.perf_counter() - t2
        t3 = time.perf_counter()
        span["wall_s"] = t3 - t0 - traced
        # one span per query, children for its blocking steps; times are
        # seconds since the tracer started
        span["span"] = {
            "id": len(self.spans), "name": name,
            "start": t0 - self._origin, "end": t3 - self._origin,
            "children": [
                {"name": n, "parent": len(self.spans),
                 "start": a - self._origin, "end": b - self._origin}
                for n, a, b in (("build", t0, t0 + t_build),
                                ("action", t1, t1 + t_act),
                                ("release", t2, t2 + t_rel))
            ],
        }
        self._drain()
        span["cachescope.live_caches_after"] = self._live_caches()
        self._job_wm, act_jobs_s = self._jobs_since(span, self._job_wm)
        n_times = self._executions_since(span)
        self._take_phases(span)
        span["cachescope.release_s"] = t_rel
        # analysis of the final plan runs eagerly inside the build, and so
        # do the jobs and Catalyst phases of any action a query builder takes
        span["plans.build_s"] = max(0.0, t_build - build_jobs_s - build_cat - df_ana)
        span["exec.build_jobs_s"] = build_jobs_s
        span["exec.s"] = build_jobs_s + act_jobs_s
        span["unattributed_s"] = span["wall_s"] - (
            span["plans.build_s"] + span["catalyst.analysis_s"]
            + span["catalyst.optimization_s"] + span["catalyst.planning_s"]
            + span["exec.s"] + t_rel
        )
        span["sources.read_table_calls"] = self._read["calls"] - r0["calls"]
        span["sources.read_table_s"] = self._read["s"] - r0["s"]
        span["sources.memo_hits"] = self._read["hits"] - r0["hits"]
        # Python worker time is spent inside tasks, so it cannot exceed
        # executor run time; metric strings carry 0.1 s above 1 s
        slack = 0.05 * n_times
        for k in PYTHON_TIMES:
            if span[k] > span["exec.executor_run_s"] + slack:
                span["layer_check"] = (
                    f"{k} {span[k]:.3g} s > exec.executor_run_s "
                    f"{span['exec.executor_run_s']:.3g} s"
                )
        self.spans.append(span)
        return span, result

    def _take_phases(self, span: dict) -> float:
        total = 0.0
        while self._phases:
            for k, v in self._phases.pop().items():
                span[f"catalyst.{k}_s"] = span.get(f"catalyst.{k}_s", 0.0) + v
                total += v
        return total


class _Listener:
    """``QueryExecutionListener`` implemented over the py4j callback
    server: records the Catalyst phase durations of each executed
    ``QueryExecution``."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        phases = qe.tracker().phases()
        it = phases.keySet().iterator()
        out = {}
        while it.hasNext():
            k = it.next()
            out[k] = phases.get(k).get().durationMs() / 1e3
        self.sink.append(out)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
