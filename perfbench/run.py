#!/usr/bin/env python3
"""Closed-loop medallion benchmark: one workload, one fresh session, one client.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 1 --trace 0

Run it from the repository root or anywhere else; it finds the engine next
to its own directory and reads the tables under ``data/sf0.1``. A run:

1. works in a fresh scratch directory under ``.bench_build/perfbench`` that
   holds the session's cwd, ``TMPDIR`` and Spark local dirs, deleted at exit;
2. starts ``hostprobe.py`` beside the run: about ten times a second it
   times a fixed pure-Python loop, which gives the host's slowdown against
   a reference speed. On a shared host the CPU and wall seconds of fixed
   work drift by up to 2x within minutes, and the two bounded metrics are
   divided by the slowdown measured while they ran;
3. starts ``local[$SPARK_GRAFT_CPUS]`` (default: every core) in a new JVM
   and warms it up with one JVM job and one Python-worker job per core;
   ``setup_s`` is the JVM launch, the session creation and the warm-up, at
   the reference host speed (``setup_wall_s`` as measured);
4. runs a cold pass over the workload's queries, then warm passes until
   ``--seconds`` have passed (at least one; with ``--trace 1`` at least
   three, alternating untraced and traced passes: U T U ...), each query
   forced through the ``noop`` sink. ``cpu_s`` is the CPU time of the cold
   and warm passes together, each pass at the reference host speed
   (``cpu_host_s`` as measured): the JIT compilation a fresh JVM does
   moves between the early passes from run to run, so their sum is far
   steadier than any one pass. The passes' wall times (``cold_pass_s``,
   ``pass_s``, ``job_s``) vary too much with the host's load to bound,
   and are printed;
5. runs one untimed check pass that compares each query's output digest
   with ``digests.json``, so warm-state output is checked too;
6. prints every metric as ``name value unit`` and, last, one JSON line
   with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
   the traced passes (``--trace 1``).

``--seed`` only permutes query order within each pass. A query that
raises, or whose digest differs, counts in ``failed``; the pass goes on.
Exit status 2 means the engine, its tables or the recorded digests could
not be loaded.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLK_TCK = os.sysconf("SC_CLK_TCK")

import check  # noqa: E402
import hostprobe  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


# -- processes -------------------------------------------------------------


def _procs() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, command name, fields after the name) from /proc."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        out[int(pid)] = (int(rest[1]), name, rest)
    return out


def descendants(root: int) -> dict[int, tuple[int, str, list[str]]]:
    """``root`` and every live process below it."""
    procs = _procs()
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            frontier.extend(p for p, v in procs.items() if v[0] == pid)
    return tree


def tree_cpu_s(root: int, skip: set[int] = frozenset()) -> float:
    """CPU seconds of ``root``'s process tree but ``skip``: live processes
    plus the children they have reaped (driver Python, JVM and Python
    workers)."""
    # fields after the name: utime, stime, cutime, cstime are the 12th-15th
    return sum(
        sum(int(x) for x in rest[11:15]) for pid, (_pp, _n, rest) in descendants(root).items() if pid not in skip
    ) / CLK_TCK


def _ticks(stat: str) -> int:
    """utime plus stime of one ``/proc/.../stat`` line."""
    rest = stat[stat.rindex(")") + 2 :].split()
    return int(rest[11]) + int(rest[12])


# JVM thread names (``comm`` keeps the first 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(root: int) -> float:
    """CPU seconds of the JIT compiler threads of every JVM below
    ``root``. The run keeps compiler threads alive for the JVM's lifetime
    (see :func:`prepare`), so no compiler CPU is lost with an exited
    thread."""
    ticks = 0
    for pid, (_pp, name, _r) in descendants(root).items():
        if name != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().strip() not in JIT_THREADS:
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    ticks += _ticks(f.read())
            except OSError:
                continue  # exited while listing
    return ticks / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    jvms = [pid for pid, (_pp, name, _r) in descendants(root).items() if name == "java"]
    return (_hwm_kb(root) + sum(_hwm_kb(p) for p in jvms)) / 1024.0


class HostProbe:
    """Runs ``hostprobe.py`` beside the run and keeps its samples: the CPU
    seconds a fixed loop costs, about ten times a second."""

    # the loop's cost at 10 M iterations per CPU second
    REF_LOOP_S = hostprobe.LOOP / 1e7

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "hostprobe.py")], stdout=subprocess.PIPE, text=True
        )
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            t, c = line.split()
            self.samples.append((float(t), float(c)))

    def slowdown(self, lo: float, hi: float) -> float:
        """The host's slowdown against the reference speed between unix
        times ``lo`` and ``hi``: the median loop cost over ``REF_LOOP_S``."""
        costs = [c for t, c in self.samples if lo <= t <= hi] or [c for _t, c in self.samples]
        return statistics.median(costs) / self.REF_LOOP_S

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.reader.join(timeout=30)
        self.proc.stdout.close()


# -- session ---------------------------------------------------------------


def prepare(run_dir: str) -> str:
    """Point every scratch location of the run into ``run_dir`` and put the
    repository on the import path of the driver and the Python workers.
    Returns the run's temp dir (what ``tempfile.gettempdir()`` now gives)."""
    tmp, local, cwd = (os.path.join(run_dir, d) for d in ("tmp", "local", "cwd"))
    for d in (tmp, local, cwd):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the launcher that spark-submit starts first included:
    # -XX:-UsePerfData, as the JVM would otherwise write hsperfdata to /tmp
    # -XX:-UseDynamicNumberOfCompilerThreads, so JIT compiler threads never
    # exit and their CPU can be told apart from the program's
    opts = f"-Djava.io.tmpdir={local} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {opts}".strip()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(cwd)
    return tmp


def start_session(n_cpus: int):
    """``(spark, seconds)``: launch the JVM and create the engine's session."""
    from dataengineeringpipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=n_cpus,
        shuffle_partitions=n_cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def warm_up(spark, n_cpus: int) -> float:
    """Seconds for one JVM job and one Python-worker job per core, so the
    cold pass pays neither, whichever query the seed puts first."""

    def touch_numpy(batches):  # nested, so workers get it by value
        import numpy  # noqa: F401  (the import is the warm-up)

        yield from batches

    t0 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(n_cpus).repartition(n_cpus).mapInPandas(touch_numpy, "id long").write.mode("overwrite").format(
        "noop"
    ).save()
    return time.perf_counter() - t0


def stop_all(spark) -> None:
    """Stop the session and the JVM, and wait until every process the run
    started has exited."""
    from pyspark import SparkContext

    children = set(descendants(os.getpid())) - {os.getpid()}
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children:
        children = {pid for pid in children if _alive(pid)}
        if time.monotonic() > deadline:
            for pid in children:
                os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True unless ``pid`` has exited (a zombie counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


# -- passes ----------------------------------------------------------------


class Run:
    def __init__(self, args: argparse.Namespace, tmp: str, entry, expected: dict) -> None:
        from dataengineeringpipeline_spark import cache

        self.args, self.tmp, self.entry, self.expected = args, tmp, entry, expected
        self.cache = cache
        self.names = list(WORKLOADS[args.workload]["queries"])
        self.rng = random.Random(args.seed)
        self.cpus = cpus()
        self.spark = None
        self.probe = None
        self.tracer = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.query_s: dict[str, list[float]] = {n: [] for n in self.names}
        self.counts = {"cache.persists": 0, "cache.released": 0}

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def _query(self, name: str, fn, verify: bool) -> tuple[float, int, int]:
        """Run one query; returns its wall time and the temp-dir entries
        and bytes it left behind."""
        before = stats.tmp_snapshot(self.tmp)
        self.attempted += 1
        if self.tracer:
            self.tracer.query = name
        t0 = time.perf_counter()
        try:
            with self._span(name, "query"):
                df = fn(self.spark, check.DATA)
                with self._span("sink", "sink"):
                    if verify:
                        got = check.digest(df)
                    else:
                        df.write.mode("overwrite").format("noop").save()
            if verify and got != self.expected.get(name):
                self.failed += 1
                self.problems.append(f"{name}: digest {got} != recorded {self.expected.get(name)}")
        except Exception as exc:  # noqa: BLE001 — one query's failure must not end the pass
            self.failed += 1
            self.problems.append(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
            traceback.print_exc(limit=3, file=sys.stderr)
        took = time.perf_counter() - t0
        self.counts["cache.persists"] += len(self.cache._TRACKED)
        self.counts["cache.released"] += self.cache.release_caches()
        self.spark.catalog.clearCache()
        return (took, *stats.tmp_left(self.tmp, before))

    def one_pass(self, verify: bool = False) -> dict:
        """Run every query once in a seed-permuted order."""
        queries = self.entry.queries()  # built now, so traced functions are picked up
        order = self.rng.sample(self.names, len(self.names))
        skip = {self.probe.proc.pid}
        jit0, cpu0 = jit_cpu_s(os.getpid()), tree_cpu_s(os.getpid(), skip)
        lo, t0 = time.time(), time.perf_counter()
        times, dirs_left, bytes_left = {}, 0, 0
        with self._span("pass", "pass"):
            for name in order:
                times[name], d, b = self._query(name, queries[name], verify)
                dirs_left, bytes_left = dirs_left + d, bytes_left + b
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(os.getpid(), skip) - cpu0
        hi = time.time()
        jit = jit_cpu_s(os.getpid()) - jit0
        slow = self.probe.slowdown(lo, hi)
        kind = "check" if verify else "traced" if self.tracer else "timed"
        print(f"# {kind} pass: wall {wall:.3f} s, cpu {cpu:.2f} s, host slowdown {slow:.3f}, jit {jit:.2f} s, "
              + ", ".join(f"{n} {s:.3f} s" for n, s in times.items()), file=sys.stderr)
        return {"wall": wall, "cpu": cpu, "slowdown": slow, "jit": jit, "window": (lo, hi),
                "times": times, "tmp.dirs_left": dirs_left, "tmp.mb_left": bytes_left / 1e6}

    def warm(self, p: dict) -> dict:
        for name, s in p["times"].items():
            self.query_s[name].append(s)
        return p


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def ref_cpu_s(p: dict) -> float:
    """A pass's CPU seconds at the probe's reference host speed."""
    return p["cpu"] / p["slowdown"]


def timed_run(run: Run, setup: dict, cold: dict) -> tuple[dict, dict]:
    """Untraced warm passes until the time is up (at least one); returns
    the end-to-end metrics and printed-only detail."""
    warm = []
    t0 = time.perf_counter()
    while not warm or time.perf_counter() - t0 < run.args.seconds:
        warm.append(run.warm(run.one_pass()))
    metrics = {
        "setup_s": ((setup["start"] + setup["warmup"]) / setup["slowdown"], "s"),
        "cpu_s": (sum(ref_cpu_s(p) for p in (cold, *warm)), "s"),
    }
    detail = {
        "setup_wall_s": (setup["start"] + setup["warmup"], "s"),
        "cpu_host_s": (sum(p["cpu"] for p in (cold, *warm)), "s"),
        "host_slowdown": (_median([setup["slowdown"], cold["slowdown"], *(p["slowdown"] for p in warm)]), "ratio"),
        "cold_pass_s": (cold["wall"], "s"),
        "job_s": (cold["wall"] + sum(p["wall"] for p in warm), "s"),
        "pass_s": (_median([p["wall"] for p in warm]), "s"),
        "peak_rss_mb": (peak_rss_mb(os.getpid()), "MB"),
        "tmp_mb_left": (_median([p["tmp.mb_left"] for p in warm]), "MB"),
        **{f"query.{n}.s": (_median(xs), "s") for n, xs in run.query_s.items()},
    }
    return metrics, detail


def layer_report(
    per_pass: list[dict[str, float]],
    traced: list[float],
    untraced: list[dict],
    setup: dict,
    counts: dict[str, float],
    passes: list[dict],
    trigger_ms: list[float],
    query_s: dict[str, list[float]],
) -> tuple[dict[str, tuple[float, str]], dict[str, tuple[float, str]]]:
    """The per-layer metrics (every ``per_layer`` name in BENCHMARK.json)
    and printed-only detail, from the traced passes' :func:`tracing.pass_metrics`,
    the traced pass walls, the untraced passes, the set-up record, the run's cache counts, every pass's record (the cold pass first), the streaming
    micro-batch durations and the warm per-query times."""
    import tracing

    med = {k: _median([m.get(k, 0.0) for m in per_pass]) for k in {k for m in per_pass for k in m}}
    t_pass, u_pass = _median(traced), _median([p["wall"] for p in untraced])
    layer: dict[str, tuple[float, str]] = {
        "session.start_s": (setup["start"], "s"),
        "session.warmup_s": (setup["warmup"], "s"),
        "host.slowdown": (_median([setup["slowdown"], *(p["slowdown"] for p in passes)]), "ratio"),
        "cold_pass_s": (passes[0]["wall"], "s"),
        "pass_s": (u_pass, "s"),
        "pass_cpu_s": (_median([ref_cpu_s(p) for p in untraced]), "s"),
        "jvm.jit_cpu_s": (_median([p["jit"] for p in untraced]), "s"),
        "peak_rss_mb": (peak_rss_mb(os.getpid()), "MB"),
        "trace.pass_s": (t_pass, "s"),
        "trace.overhead_pct": (100.0 * (t_pass - u_pass) / u_pass, "%"),
        "trace.accounted_pct": (
            100.0 * sum(v for k, v in med.items() if k.endswith(".self_s") and k != "pass.self_s") / t_pass, "%"
        ),
    }
    for key in tracing.REPORTED:
        layer[key] = (med.get(key, 0.0), tracing.unit(key))
    layer["streaming.batch_p50_ms"] = (stats.percentile(trigger_ms, 50) if trigger_ms else 0.0, "ms")
    n = len(passes)
    layer["cache.persists"] = (counts["cache.persists"] / n, "count")
    layer["cache.released"] = (counts["cache.released"] / n, "count")
    layer["tmp.dirs_left"] = (_median([p["tmp.dirs_left"] for p in passes]), "count")
    layer["tmp.mb_left"] = (_median([p["tmp.mb_left"] for p in passes]), "MB")
    for name in sorted({q for w in WORKLOADS.values() for q in w["queries"]}):
        layer[f"query.{name}.s"] = (_median(query_s.get(name, [])), "s")

    detail: dict[str, tuple[float, str]] = {}
    if trigger_ms:
        # the tail needs ten samples beyond it, so it is printed only
        # when the run had enough micro-batches
        detail["streaming.batch_samples"] = (len(trigger_ms), "count")
        t = stats.tail(trigger_ms)
        if t:
            detail[f"streaming.batch_p{t[0]:g}_ms"] = (t[1], "ms")
    for k, v in sorted(med.items()):
        if k not in layer:
            detail[k] = (v, tracing.unit(k))
    return layer, detail


def traced_run(run: Run, setup: dict, cold: dict, listener) -> tuple[dict, dict, dict]:
    """Warm passes in U T U T ... order (U untraced, T traced), at least
    U T U, until the time is up; returns the per-layer metrics, detail,
    and the trace record."""
    import tracing

    tracer = tracing.Tracer()
    store = tracing.StatusStore(run.spark)
    untraced, traced, per_pass = [], [], []
    t0 = time.perf_counter()
    while len(untraced) < 2 or time.perf_counter() - t0 < run.args.seconds:
        if len(untraced) > len(traced):
            tracer.install()
            run.tracer = tracer
            try:
                p = run.one_pass()
            finally:
                run.tracer = None
                tracer.uninstall()
            traced.append(p)
            per_pass.append(tracing.pass_metrics(tracer, listener, p["window"], *store.window(*p["window"])))
        else:
            untraced.append(run.warm(run.one_pass()))
    layer, detail = layer_report(
        per_pass, [p["wall"] for p in traced], untraced, setup, run.counts,
        [cold, *traced, *untraced], [b["ms"].get("triggerExecution", 0) for b in listener.batches], run.query_s,
    )
    record = {
        "unseen_bindings": tracer.unseen,
        "spans": [vars(s) for s in tracer.spans],
        "batches": listener.batches,
    }
    return layer, detail, record


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__ as entry

        expected = check.load_expected()
    except (ImportError, OSError, ValueError, KeyError) as exc:
        print(f"perfbench: cannot load the engine, its tables or the recorded digests under {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    home = os.getcwd()
    run = None
    try:
        tmp = prepare(run_dir)
        run = Run(args, tmp, entry, expected)
        run.probe = HostProbe()
        lo = time.time()
        run.spark, start_s = start_session(run.cpus)
        setup = {"start": start_s, "warmup": warm_up(run.spark, run.cpus)}
        setup["slowdown"] = run.probe.slowdown(lo, time.time())
        listener = None
        if args.trace:
            import tracing

            # registered before the cold pass, so every micro-batch of the
            # run counts towards the batch percentiles
            listener = tracing.StreamListener()
            run.spark.streams.addListener(listener)
        cold = run.one_pass()
        if args.trace:
            metrics, detail, record = traced_run(run, setup, cold, listener)
        else:
            (metrics, detail), record = timed_run(run, setup, cold), {}
        run.one_pass(verify=True)
        if listener is not None:
            run.spark.streams.removeListener(listener)
    finally:
        if run is not None and run.probe is not None:
            run.probe.stop()
        stop_all(run.spark if run else None)
        os.chdir(home)
        shutil.rmtree(run_dir, ignore_errors=True)

    if record:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(record, f)
        print(f"# spans: {path}")
        for b in record["unseen_bindings"]:
            print(f"# not traced (bound before patching): {b}")
    for p in run.problems:
        print(f"# failed: {p}")
    detail["failed_frac"] = (run.failed / run.attempted, "ratio")
    for name, (value, unit) in {**metrics, **detail}.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
