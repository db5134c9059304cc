"""Benchmark-side instrumentation: spans, Spark event-log and UDF-profile
parsing, and a process-tree memory sampler.

Everything here observes the program from outside. Spans are recorded
around calls into the public stage, storage and ledger functions; the
Spark job description is set to the innermost span so the event log can
be split per layer; the UDF profile comes from Spark's own
`spark.sql.pyspark.udf.profiler=perf`.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import pstats
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

JOB_PREFIX = "trace:"


def module_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


class Tracer:
    """In-memory spans (id, name, parent, run id, start, end), written out
    once when the run ends."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def _describe(self) -> None:
        name = self.spans[self._stack[-1]]["name"] if self._stack else None
        self.sc.setJobDescription(JOB_PREFIX + name if name else None)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._describe()

    def wrap(self, obj, module: str, methods: list[str]) -> None:
        """Put a `<module>.<method>` span around each listed method of this
        one instance (the class and every other instance stay untouched)."""
        for m in methods:
            fn = getattr(obj, m)

            @functools.wraps(fn)
            def traced(*a, _fn=fn, _name=f"{module}.{m}", **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            setattr(obj, m, traced)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its (sequential) children cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def by_name(self, field: str = "self") -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            v = st[s["id"]] if field == "self" else s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + v
        return out

    def count(self, prefix: str) -> int:
        return sum(1 for s in self.spans if s["name"].startswith(prefix))

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps({"run_id": self.run_id,
                                    "spans": self.spans}, indent=1))


# ------------------------------------------------------------ Spark layer

def spark_layer_metrics(eventlog_dir: Path) -> dict[str, dict[str, float]]:
    """Per-layer task time, shuffle, spill, input and skew from a local
    Spark event log. A stage belongs to the layer named in the job
    description it was submitted under (set by Tracer.span); stages outside
    any span are ignored."""
    stage_layer: dict[int, str] = {}
    job_layer: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    files = sorted(glob.glob(str(eventlog_dir / "**" / "*"), recursive=True))
    for f in files:
        if not os.path.isfile(f):
            continue
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerStageSubmitted":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    if desc.startswith(JOB_PREFIX):
                        sid = e["Stage Info"]["Stage ID"]
                        stage_layer.setdefault(
                            sid, module_of(desc[len(JOB_PREFIX):]))
                elif kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    if desc.startswith(JOB_PREFIX):
                        job_layer[e["Job ID"]] = module_of(
                            desc[len(JOB_PREFIX):])
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    sr = m["Shuffle Read Metrics"]
                    tasks.setdefault(layer, []).append({
                        "run_s": m["Executor Run Time"] / 1000.0,
                        "shuffle_read": sr["Remote Bytes Read"]
                        + sr["Local Bytes Read"],
                        "shuffle_write":
                            m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        "spill": m["Memory Bytes Spilled"]
                        + m["Disk Bytes Spilled"],
                        "input": m["Input Metrics"]["Bytes Read"],
                    })
    mb = 1024.0 * 1024.0
    out: dict[str, dict[str, float]] = {}
    for layer in set(job_layer.values()) | set(tasks):
        ts = tasks.get(layer, [])
        runs = [t["run_s"] for t in ts]
        med = statistics.median(runs) if runs else 0.0
        out[layer] = {
            "jobs": sum(1 for v in job_layer.values() if v == layer),
            "task_s": sum(runs),
            "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
            "spill_mb": sum(t["spill"] for t in ts) / mb,
            "input_mb": sum(t["input"] for t in ts) / mb,
            "task_skew": max(runs) / med if med > 0 else 0.0,
        }
    return out


# ------------------------------------------------------- Python UDF layer

# entry functions of the pandas UDFs the stages register, by role
_UDF_ROOTS = {
    "sig_udf": "signatures", "joint_udf": "signatures",
    "simhash_udf": "signatures", "fp_udf": "signatures",
    "_verify": "verify",
}
_KERNEL_FILES = ("kernels.py", "_native.py")


def udf_metrics(spark, dump_dir: Path) -> dict[str, float]:
    """UDF time by role and the share of it spent inside dedup.kernels /
    dedup._native, from the perf profiles Spark collected."""
    spark.profile.dump(str(dump_dir), type="perf")
    by_role = {"signatures": 0.0, "verify": 0.0}
    kernel = 0.0
    for f in glob.glob(str(dump_dir / "*.pstats")):
        stats = pstats.Stats(f).stats
        for (_file, _line, func), v in stats.items():
            if func in _UDF_ROOTS:
                by_role[_UDF_ROOTS[func]] += v[3]
        for (file, _line, _func), v in stats.items():
            if os.path.basename(file) not in _KERNEL_FILES:
                continue
            # cumulative time entered from outside the kernel modules, so
            # kernel-to-kernel calls are not counted twice
            kernel += sum(
                cv[3] for caller, cv in v[4].items()
                if os.path.basename(caller[0]) not in _KERNEL_FILES
            )
    total = sum(by_role.values())
    return {
        "udf.signatures_s": by_role["signatures"],
        "udf.verify_s": by_role["verify"],
        "udf.kernel_share": kernel / total if total > 0 else 0.0,
    }


# ------------------------------------------------------------ memory

def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue  # exited while we listed
        ppid = int(s[s.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited between listing and reading
    return 0


class MemSampler(threading.Thread):
    """Peak summed memory of this process and all its descendants (the JVM
    and the Python workers it forks), sampled from /proc. Each process
    counts its proportional set size, so pages that forked workers share
    with their parent count once instead of once per worker."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / (1024.0 * 1024.0)
