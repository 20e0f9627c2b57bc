"""Shared plumbing: environment pinning, host record, child processes,
statistics, spans and Spark event-log parsing."""

from __future__ import annotations

import json
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import time
from pathlib import Path

# The only engine settings a run may carry. Anything else named
# SPARK_GRAFT_* would change a shipped default, so the run refuses it.
ALLOWED_GRAFT_ENV = ("SPARK_GRAFT_CPUS",)


class BenchError(RuntimeError):
    """A failure that must end the run without a result line."""


def check_env(cpus: int) -> None:
    extra = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k not in ALLOWED_GRAFT_ENV)
    if extra:
        raise BenchError(f"refusing to run with engine settings present: {', '.join(extra)}")
    have = os.environ.get("SPARK_GRAFT_CPUS")
    if have is not None and have != str(cpus):
        raise BenchError(f"SPARK_GRAFT_CPUS={have} but this host has {cpus} cpus")


def pinned_env(root: Path, work: Path, cpus: int) -> dict:
    """Environment for every process the benchmark starts: shipped
    defaults, host cpu count, and scratch space inside the work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "PYTHONPATH": str(root),
            "TMPDIR": str(tmp),
            # keep the JVM's scratch files inside the checkout as well
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def host_record(cpu_start: list[int]) -> dict:
    """Host facts for diagnosis. Never used to scale a metric."""
    rec: dict = {"nproc": host_cpus(), "python": platform.python_version()}
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                rec["mem_total_kb"] = int(line.split()[1])
        rec["loadavg"] = list(os.getloadavg())
    except OSError:
        pass
    rec.update(cpu_shares(cpu_start))
    try:
        import pyspark  # noqa: PLC0415

        rec["spark"] = pyspark.__version__
    except ImportError:
        pass
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=20)
        m = re.search(r'version "([^"]+)"', out.stderr)
        rec["java"] = m.group(1) if m else out.stderr.strip().splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    return rec


def host_cpus() -> int:
    """What ``nproc`` prints: the cpus this process may run on."""
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user ... steal), in ticks."""
    try:
        first = Path("/proc/stat").read_text().splitlines()[0].split()
        return [int(x) for x in first[1:]]
    except (OSError, IndexError, ValueError):
        return []


def cpu_shares(start: list[int]) -> dict:
    """iowait and steal shares of cpu time since ``start``."""
    now = cpu_times()
    if len(now) < 8 or len(start) < 8:
        return {}
    d = [a - b for a, b in zip(now, start)]
    total = sum(d[:8]) or 1
    return {"iowait_share": round(d[4] / total, 4), "steal_share": round(d[7] / total, 4)}


# -- child processes -------------------------------------------------


def spawn(args: list[str], env: dict, cwd: Path, stdout=subprocess.DEVNULL) -> subprocess.Popen:
    """Start a child in its own process group, so the JVM it launches
    can be found and waited for when it is stopped."""
    return subprocess.Popen(
        args, env=env, cwd=cwd, stdout=stdout, stderr=subprocess.DEVNULL, text=True, start_new_session=True
    )


def stop(proc: subprocess.Popen, grace: float = 20.0) -> None:
    """Stop a child and every process in its group, and wait for all of them."""
    pgid = proc.pid
    if proc.poll() is None:
        try:
            os.killpg(pgid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            os.killpg(pgid, signal.SIGKILL)
            proc.wait()
    if proc.stdout is not None:
        proc.stdout.close()
    deadline = time.monotonic() + grace
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + grace
        time.sleep(0.05)


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# -- statistics ------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    if not values:
        raise BenchError("percentile of no samples")
    s = sorted(values)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# -- spans -----------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, trace id. Written out
    once at the end of a traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, trace: str, **attrs):
        return _Span(self, name, trace, attrs)

    def record(self, name: str, trace: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "trace": trace, "start": start, "end": end,
             "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def current(self) -> int | None:
        """Id of the innermost open span."""
        return self._stack[-1] if self._stack else None

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace: str, attrs: dict):
        self.tracer, self.name, self.trace, self.attrs = tracer, name, trace, attrs

    def __enter__(self):
        self.start = time.perf_counter()
        parent = self.tracer.current()
        self.id = self.tracer.record(self.name, self.trace, self.start, self.start, parent, **self.attrs)
        self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.tracer._stack.pop()
        self.tracer.spans[self.id]["end"] = time.perf_counter()
        return False


# -- Spark event log -------------------------------------------------


def event_log_conf(log_dir: Path) -> dict:
    """Environment that turns on Spark's event log from outside the
    program (a spark-defaults.conf in a private SPARK_CONF_DIR)."""
    log_dir.mkdir(parents=True, exist_ok=True)
    conf_dir = log_dir.parent / "spark-conf"
    conf_dir.mkdir(parents=True, exist_ok=True)
    (conf_dir / "spark-defaults.conf").write_text(
        f"spark.eventLog.enabled true\nspark.eventLog.dir file://{log_dir}\n"
        # plain JSON lines, one file, so stdlib json can read it
        "spark.eventLog.compress false\nspark.eventLog.rolling.enabled false\n"
    )
    return {"SPARK_CONF_DIR": str(conf_dir)}


def read_event_log(log_dir: Path) -> dict:
    """Jobs, stages and task metrics from Spark's JSON event log.

    Returns ``{"jobs": [{id, group, start, end}], "tasks": [...]}`` with
    times in epoch seconds; each task carries its stage, job, and the
    metrics summed below."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    stages: set = set()
    for path in sorted(log_dir.rglob("*")):
        if path.is_dir() or path.name.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1000.0, "end": None,
                                 "group": props.get("spark.jobGroup.id")}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "job": stage_job.get(ev["Stage ID"]),
                            "start": info["Launch Time"] / 1000.0,
                            "end": info["Finish Time"] / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "result_b": m.get("Result Size", 0),
                            "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "sw_b": sw.get("Shuffle Bytes Written", 0),
                            "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        }
                    )
    return {"jobs": list(jobs.values()), "tasks": tasks, "stages": stages, "stage_job": stage_job}


def spark_totals(log: dict, jobs: set[int], wall_s: float, cores: int, ops: int) -> dict:
    """Spark execution over a set of job ids, per operation of the
    workload (statement, query or micro-batch), plus busy share."""
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    stages = {s for s, j in log["stage_job"].items() if j in jobs}
    run = sum(t["run_s"] for t in tasks)
    mb, ops = 1024.0 * 1024.0, max(1, ops)
    return {
        "spark.jobs_per_op": len(jobs) / ops,
        "spark.stages_per_op": len(stages) / ops,
        "spark.tasks_per_op": len(tasks) / ops,
        "spark.task_run_ms_per_op": 1e3 * run / ops,
        "spark.task_cpu_ms_per_op": 1e3 * sum(t["cpu_s"] for t in tasks) / ops,
        "spark.gc_ms_per_op": 1e3 * sum(t["gc_s"] for t in tasks) / ops,
        "spark.shuffle_write_mb_per_op": sum(t["sw_b"] for t in tasks) / mb / ops,
        "spark.shuffle_read_mb_per_op": sum(t["sr_b"] for t in tasks) / mb / ops,
        "spark.spill_mb_per_op": sum(t["spill_b"] for t in tasks) / mb / ops,
        "spark.result_mb_per_op": sum(t["result_b"] for t in tasks) / mb / ops,
        "spark.busy_ratio": run / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def jobs_in_windows(log: dict, windows: list[tuple[float, float]]) -> set[int]:
    """Job ids whose submission falls inside any (epoch) window."""
    return {j["id"] for j in log["jobs"] if any(a <= j["start"] <= b for a, b in windows)}


_UNIT_TOKENS = {"s": "s", "ms": "ms", "us": "us", "mb": "MB", "ratio": "ratio", "share": "ratio"}


def unit_of(name: str) -> str:
    """Unit from the first unit word in a metric name ("spark.exec_s.q1"
    is seconds, "gateway.rtt_p50_ms" milliseconds); a name without one
    is a count."""
    if name.endswith("per_s"):
        return "1/s"
    for token in re.split(r"[._]", name):
        if token in _UNIT_TOKENS:
            return _UNIT_TOKENS[token]
    return "count"


def end_to_end(setup_s: float, first_ms: float, latency_ms: float, rate: float) -> dict:
    """The four end-to-end metrics every workload reports (see LAYERS.md
    for what each means per workload)."""
    return {
        "setup_s": metric(setup_s, "s"),
        "first_result_ms": metric(first_ms, "ms"),
        "latency_ms": metric(latency_ms, "ms"),
        "throughput_per_s": metric(rate, "1/s"),
    }


# per-layer metrics every workload's traced run reports; the rest of a
# workload's layer split goes to the "layers" line on stderr
COMMON_LAYERS = (
    "session.spark_start_s", "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.task_run_ms_per_op", "spark.task_cpu_ms_per_op", "spark.shuffle_write_mb_per_op",
    "spark.shuffle_read_mb_per_op", "spark.result_mb_per_op", "spark.busy_ratio",
)


def split_layers(values: dict) -> tuple[dict, dict]:
    """(common per-layer metrics, workload-specific extras), with units."""
    missing = [k for k in COMMON_LAYERS if k not in values]
    if missing:
        raise BenchError(f"traced run is missing {missing}")
    common = {k: metric(values[k], unit_of(k)) for k in COMMON_LAYERS}
    extra = {k: metric(v, unit_of(k)) for k, v in values.items() if k not in COMMON_LAYERS}
    return common, extra
