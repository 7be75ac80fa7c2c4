"""Run one workload: build Spark cold, time the first operation, check
every output, time two session rebuilds, and build the result line.

One client thread drives the production public functions on
``local[SPARK_GRAFT_CPUS]``; the next operation starts only when the
previous one (and its output check) has finished.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import threading
import time
import traceback

from perfbench.trace import Tracer

# Spark's console progress bar interleaves with the printed lines. The
# event log is off unless a build turns it on: SparkSession.builder keeps
# options from earlier builds in the process.
QUIET_CONF = "spark.ui.showConsoleProgress=false;spark.eventLog.enabled=false"
# session rebuilds per run after the measured operation; setup_s is the
# median of all the run's builds (the cold one is the slowest, so the
# median is a rebuild: package shipping and the session warm-ups)
REBUILDS = 2
MB = 1024.0 * 1024.0


class Session:
    """Builds and tears down the production session (``get_spark``)."""

    def __init__(self, app: str):
        self.app = app
        self.spark = None

    def start(self, extra_conf: str = "") -> float:
        """Build a session and finish its first job; returns seconds."""
        from stglib_spark.session import get_spark

        base = os.environ.get("PERFBENCH_BASE_CONF", "")
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [QUIET_CONF, base, extra_conf]))
        t0 = time.perf_counter()
        self.spark = get_spark(self.app)
        self.spark.range(1).count()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def restart(self, extra_conf: str = "") -> float:
        self.spark.stop()
        return self.start(extra_conf)

    def close(self) -> None:
        """Stop the context and the JVM, and wait until the JVM has exited
        (its Python workers exit with it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap_descendants()


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for c in tree.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap_descendants() -> None:
    """Terminate and wait for anything this process started that is still
    running (a JVM or worker that outlived its pipe)."""
    import signal

    pids = _descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.05)
        if not pids:
            return


MEASURED_PROCESSES = ("python3", "python", "java")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and its live descendants."""
    total = 0
    for p in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / CLK_TCK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus all its descendants (the
    JVM and its Python workers). Each sample sums the live processes' own
    high-water marks (``VmHWM`` in /proc), so a short peak between samples
    is not missed; the result is the largest such sum."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        parts: dict[str, int] = {}
        for p in [os.getpid()] + _descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/status", encoding="ascii", errors="replace") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
                hwm = int(fields["VmHWM"].split()[0]) * 1024
            except (OSError, KeyError, ValueError, IndexError):
                continue
            name = fields.get("Name", "?").strip()
            if name not in MEASURED_PROCESSES:
                continue  # e.g. a JVM thread forked to run a shell command, pre-exec
            total += hwm
            parts[name] = parts.get(name, 0) + hwm
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def box_info(root: str) -> dict:
    import pyspark

    def git_head() -> str:
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=root, timeout=30
            )
            return out.stdout.strip() or "not a git checkout"
        except (OSError, subprocess.SubprocessError):
            return "not a git checkout"

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "git_head": git_head(),
    }


def run(workload, root: str, work: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Returns (result line, info record).

    The measured operation is the first one after the cold session build:
    the operation a command-line user gets, who starts a fresh process per
    pipeline run. Operations after it, while ``seconds`` have not passed,
    are checked and reported as ``warm_op_s`` in the info record."""
    t_start = time.perf_counter()
    info: dict = {"workload": workload.name, "seed": seed, "seconds": seconds, "trace": int(trace)}
    info["box"] = box_info(root)
    info["loadavg_start"] = os.getloadavg()
    info["inputs"] = workload.generate(seed, work)
    rss = RssSampler()
    rss.start()
    session = Session(f"perfbench-{workload.name}")
    tracer = Tracer(work, enabled=trace)
    counts = {"attempted": 0, "failed": 0}
    problems: list[str] = []
    phases: dict[str, float] = {}

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_start - sum(phases.values())

    def one_op() -> tuple[float, float, float]:
        """One operation, then its output check (untimed). Returns the
        operation's wall time, CPU time and steal time."""
        c0, s0, t0 = tree_cpu_s(), steal_s(), time.perf_counter()
        try:
            out = workload.op(session.spark, tracer)
            cost = (time.perf_counter() - t0, tree_cpu_s() - c0, steal_s() - s0)
            bad = workload.check(session.spark, out)
        except Exception:  # an operation that raises counts as failed
            cost = (time.perf_counter() - t0, tree_cpu_s() - c0, steal_s() - s0)
            bad = [traceback.format_exc(limit=4)]
        problems.extend(bad[:3])
        counts["attempted"] += 1
        counts["failed"] += bool(bad)
        return cost

    phase("generate")
    try:
        t0 = time.time()
        cold = session.start(tracer.spark_conf("eventlog") if trace else "")
        tracer.record("session.get_spark", t0, time.time())
        tracer.attach(session.spark)
        phase("cold_setup")
        tracer.begin_window()
        deadline = time.perf_counter() + seconds
        wall, cpu, steal = one_op()
        tracer.end_window()
        rss.stop()
        rss.sample()  # the high-water marks at the end of the measured operation
        info.update(workload.info(), step_s=dict(tracer.step_s), op_steal_s=steal)
        times = [wall]
        while time.perf_counter() < deadline:
            times.append(one_op()[0])
        phase("measure")
        setups = [cold] + [session.restart() for _ in range(REBUILDS)]
        phase("rebuilds")
        if trace:
            # tracing overhead from warm operations in this JVM: a traced
            # one (event log and spans on) between two untraced ones, whose
            # mean cancels the JVM still warming up across the three
            tracer.enabled = False
            untraced = one_op()[0]
            session.restart(tracer.spark_conf("eventlog-overhead"))
            tracer.enabled = True
            tracer.attach(session.spark)
            traced = one_op()[0]
            tracer.enabled = False
            session.restart()
            untraced = (untraced + one_op()[0]) / 2
            overhead = traced / untraced - 1.0
            phase("overhead")
        info["box"]["java"] = session.spark._jvm.System.getProperty("java.version")
    finally:
        rss.stop()
        session.close()
    phase("close")
    info.update(cold_setup_s=cold, setups_s=setups, warm_op_s=times[1:], phase_s=phases)
    # not gated: steal from other guests on a shared host moves CPU time,
    # and adaptive JVM heap sizing moves RSS, more than the bounds allow
    info.update(op_cpu_s=cpu, peak_rss_mb=rss.peak_bytes / MB)
    info["peak_rss_parts_mb"] = {k: v / MB for k, v in rss.peak_parts.items()}
    info["loadavg_end"] = os.getloadavg()
    info["problems"] = problems[:5]
    if not trace:
        metrics = {
            "op_s": (times[0], "s", 1),
            "setup_s": (statistics.median(setups), "s", len(setups)),
        }
    else:
        metrics = tracer.layer_metrics(overhead)
        info["span_tree"] = tracer.span_tree()
        tracer.dump(os.path.join(work, "spans.json"))
    info["samples"] = {k: v[2] for k, v in metrics.items()}
    info["ops_total"], info["ops_failed"] = counts["attempted"], counts["failed"]
    result = {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }
    return result, info
