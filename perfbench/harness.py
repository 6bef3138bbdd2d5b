"""Process-level plumbing for one benchmark run: a Spark session whose every
file lands inside the checkout, a process-tree RSS sampler, the event-log
reader behind the ``spark.*`` metrics, and a shutdown that waits for the
JVM and its Python workers to exit.

Spark settings that only the benchmark needs (event log, local dirs,
console progress off) come from a Spark conf directory the benchmark
writes into its work directory and names in ``SPARK_CONF_DIR``;
``parzig_spark.session.get_spark`` is used unchanged.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")

# The session factory defaults to a 48g driver heap sized for a large host.
# The benchmark's inputs stay under 30 MB; a 1g heap fits any 4-16 GB
# machine, and the churn of the encode jobs fills it every run, so the
# JVM's share of peak_rss_mb is steady and the rest tracks the workers.
DRIVER_MEMORY = "1g"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (stdout's last line is the result)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> str:
    """Point every file Spark or Python writes at ``run_dir``; returns the
    event-log directory. Must run before the first pyspark import starts
    a JVM (the launcher reads SPARK_CONF_DIR and the environment once)."""
    conf_dir = os.path.join(run_dir, "conf")
    events = os.path.join(run_dir, "events")
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (conf_dir, events, local, tmp):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.eventLog.enabled true\n"
            f"spark.eventLog.dir file://{events}\n"
            "spark.eventLog.compress false\n"
            f"spark.local.dir {local}\n"
            f"spark.driver.extraJavaOptions {java_opts}\n"
            "spark.ui.showConsoleProgress false\n"
            f"spark.sql.warehouse.dir file://{os.path.join(run_dir, 'warehouse')}\n"
        )
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # Python workers import parzig_spark from the checkout under test.
    extra = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + extra if extra else "")
    return events


def start_spark():
    from parzig_spark.session import get_spark
    from parzig_spark.sources.datasource import register_datasource

    n = cores()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY,
    )
    register_datasource(spark)
    return spark


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    tree = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(tree.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed VmRSS of this process tree (driver JVM and Python
    workers included), sampled from /proc on one background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in process_tree())
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait until the JVM and every worker it forked are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    descendants = [p for p in process_tree(proc.pid) if p != proc.pid]
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — a dead gateway is what we want
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except Exception:  # noqa: BLE001 — TimeoutExpired: escalate below
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def read_event_log(events_dir: str, job_prefix: str) -> dict:
    """Sum task metrics over the jobs whose description starts with
    ``job_prefix``; failed task attempts are counted over ALL jobs."""
    stage_job: dict[int, bool] = {}
    out = {"task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "failed_tasks": 0}
    paths = sorted(
        os.path.join(d, f) for d, _dirs, files in os.walk(events_dir)
        for f in files if f.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = desc.startswith(job_prefix)
                elif kind == "SparkListenerTaskEnd":
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        out["failed_tasks"] += 1
                    if not stage_job.get(ev.get("Stage ID"), False):
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out
