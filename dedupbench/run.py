#!/usr/bin/env python3
"""dedup-bench: end-to-end and per-layer benchmark of the dedup engine.

    python3 dedupbench/run.py --workload batch_code --seed 1 --seconds 10 --trace 0

A supervisor process starts the run in a child process and, whatever way
the run ends, stops and reaps every process it started before it exits.
The child runs one workload at local[nproc]: set-up (session, seeded
inputs, one untimed warm-up pass), then timed operations until --seconds
have passed (at least one). Every operation's output goes through the
gate in gate.py. With --trace 0 the last stdout line carries the
end-to-end metrics of BENCHMARK.json; with --trace 1 it carries the
per-layer metrics, taken from one untraced and one traced pass. Spans,
the full result and the run context go to .bench_out/. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SIZES = {
    "batch_code": {"files": 1000, "ingest_batch": 50},
    "short_docs": {"docs": 3000},
    "ingest_stream": {"base": 300, "batch": 50, "batches": 40},
}
# a run that has not ended by then is stopped, with every process it
# started, before the 180 s a run may take
DEADLINE_S = 170
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
# span modules whose self times add up the traced wall; the rest of it
# (spans named run.*) is the residual
MODULES = ["exact", "minhash_lsh", "simhash", "candidates", "verify",
           "cluster", "storage", "incremental", "ledger", "bench"]
E2E_UNITS = {
    "setup_s": "s", "files_per_s": "1/s", "pair_recall": "ratio",
    "pair_precision": "ratio", "peak_pss_mb": "MB", "ingest_p50_s": "s",
    "ingest_tail_s": "s", "ingest_growth_s": "s/batch",
}
# spans of the storage write path (the rest are reads and catalog lookups)
COMMIT_SPANS = ["storage.commit", "storage.stage", "storage.commit_many",
                "storage.append_pandas", "storage.write", "storage.compact"]


def context(args, cores: int) -> dict:
    def git_commit():
        try:
            return subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except OSError:
            return None

    digest = hashlib.sha256()
    for p in sorted((ROOT / "src").rglob("*.py")):
        digest.update(p.read_bytes())
    import pyspark

    mem_kb = int(Path("/proc/meminfo").read_text().split()[1])
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "sizes": SIZES[args.workload], "nproc": cores,
        "ram_mb": mem_kb // 1024,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": git_commit(), "src_sha256": digest.hexdigest(),
    }


def start_session(cores: int, work: Path, trace: bool):
    from dedup.config import DedupConfig
    from dedup.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # keep every scratch file Spark and Python write inside the checkout;
    # dedup._native caches the kernel library it compiles under
    # XDG_CACHE_HOME, kept across runs like a build dir
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["XDG_CACHE_HOME"] = str(ROOT / ".bench_build" / "cache")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    extra = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir()
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return build_session("dedup-bench", master=f"local[{cores}]",
                         config=DedupConfig(shuffle_partitions=cores),
                         extra=extra)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM. The supervisor ends the worker processes
    the JVM forked, should any outlive it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Ops:
    """attempted / failed operations: runs and gate checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def gate(self, label: str, found, expected) -> dict:
        from gate import check

        g = check(found, expected)
        for name, ok in g["checks"].items():
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{label}: {name}")
        return g

    def run(self, label: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{label}: raised")
            traceback.print_exc()
            return None


def make_workload(spark, args, cores: int, work: Path):
    import workloads as WL

    s = SIZES[args.workload]
    if args.workload == "batch_code":
        return WL.BatchCode(spark, args.seed, cores, s["files"],
                            s["ingest_batch"])
    if args.workload == "short_docs":
        return WL.ShortDocs(spark, args.seed, s["docs"], work)
    return WL.IngestStream(spark, args.seed, cores, s["base"], s["batch"],
                           s["batches"], work)


def tail(values: list[float]) -> tuple[float, str, int]:
    """Highest percentile with >= 10 samples beyond it; max below 20
    samples, where no such percentile sits above the median."""
    v = sorted(values)
    if len(v) < 20:
        return v[-1], "max", len(v)
    k = len(v) - 10
    return v[k - 1], f"p{100 * k // len(v)}", len(v)


def measure(spark, args, cores: int, work: Path, out_dir: Path, ops: Ops):
    phases = {"session": time.perf_counter() - T0}
    W = make_workload(spark, args, cores, work)
    phases["inputs"] = time.perf_counter() - T0
    res: dict = {"op_files": W.op_files, "walls": [], "stage_walls": [],
                 "phases": phases}

    warm = ops.run("warm-up", lambda: W.warm_up(work / "warm"))
    if warm is None:
        raise RuntimeError("warm-up pass failed")
    ops.gate("warm-up", warm[0], W.expected())
    spark.catalog.clearCache()
    res["setup_s"] = phases["warm_up"] = time.perf_counter() - T0

    if not args.trace:
        gates = []
        t_meas = time.perf_counter()
        i = 0
        while True:
            rep = work / f"rep{i}"
            out = ops.run(f"rep{i}", lambda: W.run(rep))
            if out is not None:
                found, wall, stages = out
                res["walls"].append(wall)
                res["stage_walls"].append(stages)
                gates.append(ops.gate(f"rep{i}", found, W.expected()))
            spark.catalog.clearCache()
            shutil.rmtree(rep, ignore_errors=True)
            i += 1
            if time.perf_counter() - t_meas >= args.seconds or (
                    hasattr(W, "exhausted") and W.exhausted()):
                break
        if not res["walls"]:
            raise RuntimeError("no timed operation succeeded")
        res["pair_recall"] = statistics.median(g["pair_recall"] for g in gates)
        res["pair_precision"] = statistics.median(
            g["pair_precision"] for g in gates)
        return res

    from spans import Tracer, udf_metrics

    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    T = Tracer(spark, f"{args.workload}-s{args.seed}-{os.getpid()}")
    with T.span("run"):
        found_t, counters, after = W.traced(T, work / "traced")
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    ops.gate("traced", found_t, W.expected())
    spark.catalog.clearCache()

    # the untraced operation runs second: it is the warmer of the two, so
    # the overhead estimate errs high rather than low
    out = ops.run("untraced", lambda: W.run(work / "untraced"))
    if out is None:
        raise RuntimeError("untraced pass failed")
    found_u, wall_u, stages = out
    ops.gate("untraced", found_u, W.expected())
    same = found_t.sort_values("doc_id")[["doc_id", "cluster_id"]].to_numpy()
    ref = found_u.sort_values("doc_id")[["doc_id", "cluster_id"]].to_numpy()
    ops.attempted += 1
    if not (same.shape == ref.shape and (same == ref).all()):
        ops.failed += 1
        ops.failures.append("traced: clusters differ from the untraced run")
    for label, found, expected in after:
        ops.gate(label, found, expected)

    st = T.by_name("self")
    dur = T.by_name("duration")
    m = {name + "_s": v for name, v in st.items()
         if "." in name and name.split(".", 1)[0] in MODULES}
    m.update(counters)
    m.update(stages)
    m.update(udf_metrics(spark, work / "profile"))
    for mod in MODULES:
        m[f"{mod}.s"] = sum(v for k, v in st.items()
                            if k.split(".", 1)[0] == mod)
    m["storage.commit_s"] = sum(st.get(k, 0.0) for k in COMMIT_SPANS)
    m["ledger.ops"] = T.count("ledger.")
    traced_mirror = next(v for k, v in dur.items() if k.startswith("run."))
    m["pipeline.traced_wall_s"] = dur["run"]
    m["pipeline.untraced_wall_s"] = wall_u
    m["pipeline.residual_s"] = dur["run"] - sum(m[f"{x}.s"] for x in MODULES)
    m["trace.overhead_s"] = traced_mirror - wall_u
    T.dump(out_dir / f"spans-{args.workload}-s{args.seed}.json")
    res["per_layer"] = m
    res["eventlog"] = work / "eventlog"
    return res


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.trace and args.workload == "ingest_stream":
        ap.error("ingest_stream has no traced pass; the batch_code traced "
                 "pass measures its layers")
    return args


def work_dir(args, pid: int) -> Path:
    return ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-{pid}"


def _prctl(option: int, value: int) -> bool:
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(option, value, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


class _Stop(Exception):
    pass


def supervise(args) -> int:
    """Run the benchmark in a child process and return only once every
    process it started (the JVM, the Python worker daemon and its workers)
    has ended, on every path out: normal exit, failure, the DEADLINE_S
    time limit, or SIGTERM/SIGINT/SIGHUP sent to this process.

    This process becomes a child subreaper, so processes orphaned by a
    dying parent are re-parented here rather than to init: they stay
    visible as descendants and are reaped here."""
    from spans import descendants

    if not _prctl(PR_SET_CHILD_SUBREAPER, 1):
        print("dedup-bench: cannot become a child subreaper; orphaned "
              "worker processes may outlive the run", file=sys.stderr)

    def on_signal(signum, _frame):
        raise _Stop(f"signal {signum}")

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    env = dict(os.environ, DEDUPBENCH_CHILD="1")
    child = None
    code = 1
    try:
        child = subprocess.Popen(
            [sys.executable, str(Path(__file__).resolve()), *sys.argv[1:]],
            env=env)
        code = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"dedup-bench: no result within {DEADLINE_S} s; stopped",
              file=sys.stderr)
        code = 124
    except _Stop as e:
        print(f"dedup-bench: {e}; stopped", file=sys.stderr)
        code = 143
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        me = os.getpid()
        while True:
            for p in descendants(me):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass  # already gone
            try:
                os.waitpid(-1, 0)
            except ChildProcessError:
                break  # no child left: as a subreaper, no descendant either
        if code != 0 and child is not None:
            shutil.rmtree(work_dir(args, child.pid), ignore_errors=True)
            try:
                work_dir(args, child.pid).parent.rmdir()
            except OSError:
                pass  # absent, or another run's work dir is still there
    return code


def main() -> int:
    args = parse_args()
    if not os.environ.get("DEDUPBENCH_CHILD"):
        return supervise(args)
    # end with the supervisor, should it be killed outright
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)

    sys.path.insert(0, str(ROOT / "src"))
    try:
        import dedup  # noqa: F401
    except ImportError as e:
        print(f"dedup-bench: the program is not importable from "
              f"{ROOT / 'src'}: {e}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cores = len(os.sched_getaffinity(0))
    mem_mb = int(Path("/proc/meminfo").read_text().split()[1]) // 1024
    # driver heap well below physical RAM: Spark's default 1 GiB, or an
    # eighth of RAM on a smaller box. A heap this size fills on every run,
    # so peak memory does not hinge on when the JVM chose to grow it.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(1024, mem_mb // 8)}m"
    ctx = context(args, cores)
    work = work_dir(args, os.getpid())
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    from spans import MemSampler, spark_layer_metrics

    ops = Ops()
    sampler = MemSampler()
    sampler.start()
    spark = None
    try:
        spark = start_session(cores, work, bool(args.trace))
        res = measure(spark, args, cores, work, out_dir, ops)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        peak_mb = sampler.stop()
    res["phases"].update(measured=t_stop - T0, stopped=time.perf_counter() - T0)
    if args.trace:
        for layer, vals in spark_layer_metrics(res["eventlog"]).items():
            for k, v in vals.items():
                res["per_layer"][f"spark.{layer}.{k}"] = v
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:
        pass  # another run's work dir is still there

    walls = res["walls"]
    e2e = {"setup_s": res["setup_s"], "peak_pss_mb": peak_mb}
    if walls:
        e2e["files_per_s"] = res["op_files"] / statistics.median(walls)
        e2e["pair_recall"] = res["pair_recall"]
        e2e["pair_precision"] = res["pair_precision"]
    if args.workload == "ingest_stream" and walls:
        t, label, n = tail(walls)
        e2e["ingest_p50_s"] = statistics.median(walls)
        e2e["ingest_tail_s"] = t
        e2e["ingest_growth_s"] = (statistics.linear_regression(
            range(len(walls)), walls).slope if len(walls) > 1 else 0.0)
        ctx["ingest_tail"] = {"percentile": label, "samples": n}

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    error_rate = ops.failed / ops.attempted
    result = {"correct": ops.failed == 0, "attempted": ops.attempted,
              "failed": ops.failed, "metrics": metrics}
    full = {"context": ctx, "phases_s": res["phases"], "walls": walls,
            "stage_walls": res["stage_walls"],
            "end_to_end": e2e, "per_layer": res.get("per_layer"),
            "error_rate": error_rate, "failures": ops.failures, **result}
    (out_dir / f"result-{args.workload}-s{args.seed}-t{args.trace}.json"
     ).write_text(json.dumps(full, indent=1, default=str))

    print("context " + json.dumps(ctx))
    for name, v in sorted(e2e.items()):
        print(f"{name} = {v:.6g} {E2E_UNITS[name]}")
    if args.trace:
        for name, mv in metrics.items():
            print(f"{name} = {mv['value']:.6g} {mv['unit']}")
    print(f"error_rate = {error_rate:.6g} ({ops.failed} failed / "
          f"{ops.attempted} attempted)")
    for f in ops.failures:
        print(f"FAILED {f}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
