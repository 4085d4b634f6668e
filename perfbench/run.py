"""Benchmark command.

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        [--seconds <s>] [--trace <0|1>]

Run from the repository root. Each run builds its inputs from the seed,
measures for ``--seconds`` seconds at local[N] (N = usable cores),
checks every output (OCR text against the analytic expectation, battery
queries against their DuckDB oracles), and prints as its
last stdout line one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. ``--workload all`` runs every
workload in its own process and prints one row per workload. The exit
code is non-zero when any output check fails or the program is absent.

Everything a run writes stays under ``.perfbench/`` in the repository:
Spark's local and temp dirs, the event log and the JVM's GC log (traced
runs only), and one
JSON record per run under ``.perfbench/results/`` with the seed,
commit, core count, load average, library versions and input sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shlex
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ process tree
def _tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """RSS of a process and all its descendants, split into (Python, the
    rest). The rest is the JVM and the helpers it spawns; a helper caught
    between fork and exec shows the JVM's RSS under a thread's name."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    python, java, todo, page = 0, 0, [root_pid], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_python = f.read().startswith("python")
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        if is_python:
            python += rss
        else:
            java += rss
    return python, java


class PeakRss:
    """Polls the RSS of this process and all its descendants until
    stopped; keeps the peak of the Python processes (this one, Spark's
    Python workers) and of the JVM, each on its own. The poll is slow
    enough to cost the single-threaded workload under 1% of its time;
    this process's own exact peak (``ru_maxrss``) covers the rest."""

    def __init__(self, interval: float = 0.5):
        self.python_peak = self.java_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        python, java = _tree_rss_bytes(os.getpid())
        self.python_peak = max(self.python_peak, python)
        self.java_peak = max(self.java_peak, java)

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self._poll()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._poll()
            self_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
            self.python_peak = max(self.python_peak, self_peak)


def _jvm_uptime_s() -> float | None:
    """Uptime of the running py4j JVM, if any."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        return None
    return jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1e3


class Context:
    def __init__(self, workload: str, seed: int, traced: bool):
        self.workload = workload
        self.slots = len(os.sched_getaffinity(0))
        tag = f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
        self.work = os.path.join(STATE, "work", tag)
        self.results = os.path.join(STATE, "results")
        self.tag = tag
        os.makedirs(self.work, exist_ok=True)
        os.makedirs(self.results, exist_ok=True)
        self.rss = PeakRss()
        self.jvm_uptime_s = None
        self.phases: list[tuple[str, float]] = []
        self._t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (wall seconds since start)."""
        self.phases.append((name, round(time.perf_counter() - self._t0, 3)))

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def eventlog(self, app_id: str) -> str:
        return os.path.join(self.work, "eventlog", app_id)

    def stop_rss(self) -> None:
        """End the memory measurement; note how long the JVM had run then,
        so its GC log can be cut at the same point."""
        if self.jvm_uptime_s is None:
            self.jvm_uptime_s = _jvm_uptime_s()
        self.rss.stop()

    def eventlog_confs(self) -> dict[str, str]:
        """The Spark event log: uncompressed and not rolling, so reading
        it needs no codec."""
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def configure_spark(self, traced: bool) -> None:
        """Environment for the JVM the first session launches: workers
        import the program from this checkout and scratch space stays in
        it. The driver keeps the program's own heap setting. The event
        log is off; a traced run turns it on for a later session. A
        traced run also has the JVM log its garbage collections."""
        tmp = self.path("tmp")
        for d in (tmp, self.path("local"), self.path("eventlog")):
            os.makedirs(d, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = tmp
        confs = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}" + (
                f" -Xlog:gc:file={self.path('gc.log')}" if traced else ""),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.enabled": "false",
        }
        args = []
        for k, v in confs.items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM a session launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_memory(ctx) -> dict[str, float]:
    """The driver JVM's memory up to the end of the measurement: its
    peak RSS, and from its GC log the peak heap in use (before a pause),
    the peak live heap (after a collection), the peak committed heap and
    the summed pause time. All 0 without a JVM."""
    from perfbench import eventlog

    out = {"jvm.peak_rss_mb": ctx.rss.java_peak / 2**20}
    gc_log = ctx.path("gc.log")
    if os.path.exists(gc_log) and ctx.jvm_uptime_s is not None:
        out.update(eventlog.parse_gc_log(gc_log, ctx.jvm_uptime_s))
    return out


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=30).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__}


def _fmt_row(workload: str, metrics: dict) -> str:
    return f"{workload:<22}" + "  ".join(
        f"{k}={m['value']:.6g} {m['unit']}" for k, m in metrics.items())


# ------------------------------------------------------------ one workload
def run_one(args, spec: dict) -> int:
    from perfbench import workloads

    traced = bool(args.trace)
    ctx = Context(args.workload, args.seed, traced)
    if args.workload in workloads.SPARK_WORKLOADS:
        ctx.configure_spark(traced)
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(traced), "commit": _git_commit(), "nproc": os.cpu_count(),
        "slots": ctx.slots, "master": f"local[{ctx.slots}]",
        "loadavg_before": os.getloadavg(), "versions": _versions(),
    }
    t0 = time.perf_counter()
    try:
        res = workloads.WORKLOADS[args.workload](args.seed, args.seconds, traced, ctx)
    finally:
        ctx.stop_rss()
        if args.workload in workloads.SPARK_WORKLOADS:
            _stop_jvm()
    res.metrics["python_peak_rss_mb"] = ctx.rss.python_peak / 2**20
    if traced:
        res.layers.update(jvm_memory(ctx))
    meta["loadavg_after"] = os.getloadavg()
    meta["run_wall_s"] = time.perf_counter() - t0

    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    produced = res.layers if traced else res.metrics
    unknown = set(produced) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        name = m["name"]
        if traced:  # a layer the workload does not run reads 0
            value = produced.get(name, 0.0)
        else:
            value = produced[name]
        metrics[name] = {"value": float(value), "unit": m["unit"]}
    correct = not res.mismatches
    record = dict(meta, phases=ctx.phases, correct=correct, attempted=res.attempted,
                  failed=res.failed, sizes=res.sizes, end_to_end=res.metrics, per_layer=res.layers,
                  extra=res.extra, mismatches=res.mismatches[:50])
    record_path = os.path.join(ctx.results, ctx.tag + ".json")
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    spans = ctx.path("spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(ctx.results, ctx.tag + ".spans.jsonl"))
    shutil.rmtree(ctx.work, ignore_errors=True)

    for line in res.mismatches[:20]:
        print("MISMATCH " + line, file=sys.stderr)
    print(_fmt_row(args.workload, metrics))
    print("# sizes " + json.dumps(res.sizes) + f"  record {record_path}")
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct and res.failed == 0 else 1


def run_all(args, spec: dict) -> int:
    """Every workload in its own process (one JVM each), one row each."""
    status, rows = 0, []
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        try:
            out = json.loads(lines[-1])
        except (IndexError, ValueError):
            sys.stderr.write(p.stderr[-4000:])
            rows.append(f"{w['name']:<22}FAILED (exit {p.returncode}, no result)")
            status = 1
            continue
        ok = out["correct"] and out["failed"] == 0 and p.returncode == 0
        status |= not ok
        rows.append(_fmt_row(w["name"], out["metrics"])
                    + ("" if ok else f"  CHECK FAILED ({out['failed']} failed)"))
    print("\n".join(rows))
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the repository root, not this directory, heads the import path
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        import onnxocr_spark

        if not os.path.abspath(onnxocr_spark.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"onnxocr_spark resolves to {onnxocr_spark.__file__}")
        spec = load_spec()
    except (ImportError, OSError) as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        return run_all(args, spec)
    if args.workload not in names:
        ap.error(f"--workload must be one of {names} or all")
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
