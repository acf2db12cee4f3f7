"""Session, timing, tracing, storage and memory accounting for one run.

Everything is measured from outside the engine: the benchmark times the
public calls it makes, lists the table directories itself, and reads
Spark's own job records for the traced run.
"""

from __future__ import annotations

import ast
import os
import re
import statistics
import subprocess
import tempfile
import time
from collections import defaultdict

from py4j.protocol import Py4JError

ENGINE = "learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark"


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- session ---------------------------------------------------------------


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A driver heap that fits the machine: a fifth of RAM, 1-2 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(2, phys // 5 // 2**30))}g"


def prepare_env(root: str, work: str) -> str:
    """Point every scratch path into ``work`` and size the session. Runs
    before the engine is imported: ``session.py`` reads SPARK_GRAFT_CPUS at
    import time. Returns the scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no JVM perf-data files under /tmp, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return tmp


def start_session(work: str):
    """One local[nproc] SparkSession whose scratch space stays in ``work``."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
        build_session,
    )

    tmp, mem = os.path.join(work, "tmp"), os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return build_session(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap, so the JVM's resident peak does not hang
            # on when the collector chose to grow it
            "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            # keep every job and stage of a run for the traced read-back
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of the JVM + this driver process + the largest Python worker."""
    proc = jvm_process()
    total = vm_hwm_kb(os.getpid())
    if proc is not None:
        total += vm_hwm_kb(proc.pid)
        total += max((vm_hwm_kb(p) for p in descendants(proc.pid)), default=0)
    return total / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    proc = jvm_process()
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    from pyspark import SparkContext

    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


# -- storage ---------------------------------------------------------------


class Storage:
    """Byte accounting by listing the table roots from outside.

    Files are immutable, so a path (or a replaced inode) that was not there
    at the previous listing is a write. Live bytes come from the tables'
    own ``current_files()`` entries.
    """

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.seen = self._list()
        self.bytes_written = 0
        self.commits: list[dict] = []

    def _list(self) -> dict[tuple, int]:
        out = {}
        for root in self.roots:
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    out[(p, st.st_ino, st.st_mtime_ns)] = st.st_size
        return out

    def disk_bytes(self) -> int:
        return sum(self._list().values())

    def after_commit(self, record: bool = True) -> None:
        """Account the files written since the last listing; ``record``
        adds a per-commit entry (off for cleaner runs, which write none)."""
        now = self._list()
        new = {k: v for k, v in now.items() if k not in self.seen}
        self.seen = now
        written = sum(new.values())
        self.bytes_written += written
        if record:
            self.commits.append(
                {
                    "bytes_written": written,
                    "files_written": sum(1 for k in new if k[0].endswith(".parquet")),
                    "manifest_bytes": sum(
                        v for k, v in new.items() if os.sep + "_commits" + os.sep in k[0]
                    ),
                }
            )


def live_bytes(table) -> int:
    return sum(os.path.getsize(table._abs(e["path"])) for e in table.current_files())


# -- calls and spans -------------------------------------------------------


class Recorder:
    """Times public calls. In trace mode it also keeps spans and sets one
    Spark job group per span so its jobs can be read back afterwards;
    otherwise all workload calls share one job group, the recorder's own."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.group = f"calls-{id(self)}"
        self.trace = trace
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.calls = 0
        self.failed = 0
        self.busy = 0.0
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    def span(self, name: str, role: str | None = None, count: bool = True, **attrs):
        return _Span(self, name, role, count, attrs)

    def call(self, name: str, fn, role: str | None = None, **attrs):
        with self.span(name, role, **attrs):
            return fn()

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(span["id"]), span["name"])

    def work(self, root: str) -> tuple[int, int]:
        """Spark jobs and tasks the workload calls of an untraced run ran."""
        calls = {"id": self.group}
        read_jobs(self.spark, [calls], SiteMap(root))
        return len(calls["jobs"]), sum(j["tasks"] for j in calls["jobs"])


class _Span:
    def __init__(self, rec: Recorder, name, role, count, attrs):
        self.rec, self.role, self.count = rec, role, count
        rec._next += 1
        parent = rec._stack[-1]["id"] if rec._stack else None
        self.s = {"id": rec._next, "name": name, "parent": parent, "role": role, **attrs}
        self.top = count and parent is None  # one workload call

    def __enter__(self):
        rec = self.rec
        rec._stack.append(self.s)
        if rec.trace:
            rec._set_group(self.s)
        elif self.top:
            rec._set_group({"id": rec.group, "name": "workload call"})
        self.s["start"] = time.perf_counter()
        return self.s

    def __exit__(self, exc_type, exc, tb):
        end = time.perf_counter()
        rec, s = self.rec, self.s
        s["end"] = end
        s["ok"] = exc_type is None
        rec._stack.pop()
        if rec.trace:
            rec._set_group(rec._stack[-1] if rec._stack else None)
            rec.spans.append(s)
        elif self.top:
            rec._set_group(None)
        dur = end - s["start"]
        if self.top:
            rec.calls += 1
            rec.failed += exc_type is not None
            rec.busy += dur
        if self.role and exc_type is None:
            rec.samples[self.role].append(dur)
        return False


# -- trace read-back -------------------------------------------------------

_SITE = re.compile(r" at (.+\.py):(\d+)$")


class SiteMap:
    """Maps a Spark call site ``<op> at <file>.py:<line>`` to the engine
    module and the function that issued the job."""

    def __init__(self, root: str):
        self.roots = {root.rstrip(os.sep) + os.sep, os.path.realpath(root) + os.sep}
        self.pkg = os.path.realpath(os.path.join(root, ENGINE)) + os.sep
        self._funcs: dict[str, list[tuple[int, int, str]]] = {}

    def relative(self, call_site: str) -> str:
        """The call site with the checkout root taken off its path."""
        for r in self.roots:
            call_site = call_site.replace(r, "")
        return call_site

    def module(self, path: str) -> str | None:
        real = os.path.realpath(path)
        if not real.startswith(self.pkg):
            return None
        return real[len(self.pkg):-3].replace(os.sep, ".")

    def function(self, path: str, line: int) -> str:
        if path not in self._funcs:
            with open(path) as f:
                tree = ast.parse(f.read())
            spans = []
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    spans.append((node.lineno, node.end_lineno, node.name))
            self._funcs[path] = spans
        inside = [s for s in self._funcs[path] if s[0] <= line <= s[1]]
        return min(inside, key=lambda s: s[1] - s[0])[2] if inside else "<module>"

    def site(self, call_site: str) -> tuple[str | None, str | None]:
        m = _SITE.search(call_site or "")
        if not m:
            return None, None
        mod = self.module(m.group(1))
        if mod is None:
            return None, None
        return mod, self.function(m.group(1), int(m.group(2)))


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(spark, spans: list[dict], sites: SiteMap) -> None:
    """Attach each span's own Spark jobs (job group = span id) with their
    tasks, shuffle and output bytes, duration and call site."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Py4JError:  # not callable on this Spark build: give the bus time
        time.sleep(2)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    for s in spans:
        jobs = []
        for jid in sorted(tracker.getJobIdsForGroup(str(s["id"]))):
            jd = store.job(jid)
            sub, done = _opt_s(jd.submissionTime()), _opt_s(jd.completionTime())
            j = {
                "id": jid,
                "call_site": jd.name(),
                "s": (done - sub) if sub is not None and done is not None else 0.0,
                "tasks": 0,
                "shuffle_bytes": 0,
                "output_bytes": 0,
            }
            for sid in tracker.getJobInfo(jid).stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:
                    continue  # skipped stage: never attempted
                j["tasks"] += st.numTasks() if str(st.status()) != "SKIPPED" else 0
                j["shuffle_bytes"] += st.shuffleWriteBytes()
                j["output_bytes"] += st.outputBytes()
            j["module"], j["function"] = sites.site(j["call_site"])
            j["call_site"] = sites.relative(j["call_site"])
            jobs.append(j)
        s["jobs"] = jobs


def self_times(spans: list[dict]) -> None:
    """Self time = duration minus the time covered by child spans (children
    of one span run one after another on the single client thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    for s in spans:
        s["s"] = s["end"] - s["start"]
        s["self_s"] = s["s"] - child[s["id"]]
        if s["self_s"] < -1e-6:
            raise RuntimeError(f"span {s['id']} {s['name']}: children outlast it")
