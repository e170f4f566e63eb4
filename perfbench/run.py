"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``ingest`` — a single writer ingests a seeded list of Telegram
  exports, ending with one 8,000-message chat;
* ``serve``  — one tool client runs a seeded analyst session against
  ``serving.ToolDispatcher`` for at least ``--seconds``.

The workload runs in a child process (``worker.py``) that streams each
operation's outcome as it finishes; this process samples the memory of
the child's whole process tree (Python, the Spark JVM, the pandas-UDF
workers), turns the events into metrics, and prints one JSON object as
the last line of standard output. ``--trace 1`` runs the workload
traced and prints the per-layer numbers and the tracing overhead,
measured against an untraced run of the same seed (the one recorded by
an earlier ``--trace 0`` run in this checkout, else one run first).
Work files live under ``.bench_work/`` and are removed at exit; traced
spans and the untraced records are kept under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
# seconds after start by which every worker has ended: one still running
# then is killed and its unfinished operations count as failed
DEADLINE_S = 160.0
CALIB_ROWS = 300_000
# the calibration sample on an idle 4-core x86 box; a run whose sample
# is LOADED_RATIO times slower is flagged on stderr
CALIB_IDLE_S = 0.26
LOADED_RATIO = 1.5

END_TO_END = {
    "setup_s": "s",
    "ok_ratio": "ratio",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}
TOOLS = ("vector_search", "cluster_search", "get_cluster", "text_search",
         "hybrid_search", "random_large_cluster")
# every traced run prints all of these; a layer the workload's timed
# phase never calls reads 0
PER_LAYER = {
    "session.start_s": "s", "env.calib_s": "s", "env.loadavg": "load",
    # peak RSS of the worker's process group: the JVM's share follows
    # the collector's heap sizing and moves 20-30% between runs, more
    # than an end-to-end bound may allow, so it is reported here
    "mem.peak_rss_mb": "MB",
    "sources.busy_s": "s", "sources.msgs_out": "count", "sources.jobs": "count",
    "txn.busy_s": "s", "txn.jobs": "count", "txn.rows_offered": "count",
    "txn.rows_inserted": "count", "txn.bytes_written": "bytes", "txn.write_amp": "ratio",
    "txn.read_s": "s",
    "embed.busy_s": "s", "embed.rows": "count", "embed.jobs": "count",
    "semantic.busy_s": "s", "semantic.groups_out": "count",
    "semantic.clustered_ratio": "ratio", "semantic.jobs": "count",
    "api.plan_ms": "ms",
    **{f"serving.{t}.{m}": u for t in TOOLS for m, u in (("p50_ms", "ms"), ("jobs", "count"))},
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
}


def _group_pids(pgid: int) -> list[int]:
    """Live (not zombie) processes of the process group."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def _group_rss_mb(pgid: int) -> float:
    """Resident memory of every process in the process group."""
    pages = 0
    for pid in _group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            continue
    return pages * PAGE_MB


def _stop_group(pgid: int) -> None:
    """TERM, then KILL, every process of the group; return once all
    have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.perf_counter() + 5
        while _group_pids(pgid) and time.perf_counter() < end:
            time.sleep(0.05)


def _exit_on_signal(signum: int, _frame) -> None:
    raise SystemExit(128 + signum)


class Run:
    """One worker process and everything it reported."""

    def __init__(self, args, trace: int, work: str, out: str, deadline: float):
        self.events: list[tuple[float, dict]] = []
        self.peak_rss_mb = 0.0
        self.crash = ""
        self.t0 = time.perf_counter()
        # each run lands its tables in a directory of its own: a traced
        # run after an untraced one must start from empty tables
        work = os.path.join(work, f"trace{trace}")
        os.makedirs(work)
        r, w = os.pipe()
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
               "--work", work, "--out", out, "--events-fd", str(w)]
        if args.toy:
            cmd.append("--toy")
        self.log_path = os.path.join(work, f"worker{trace}.log")
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                         pass_fds=(w,), env=_env(work), cwd=ROOT,
                                         start_new_session=True)
        os.close(w)
        reader = threading.Thread(target=self._read, args=(r,), daemon=True)
        reader.start()
        self._wait(reader, deadline)

    def _read(self, fd: int) -> None:
        with os.fdopen(fd) as fh:
            for line in fh:
                self.events.append((time.perf_counter(), json.loads(line)))

    def _wait(self, reader: threading.Thread, deadline: float) -> None:
        pgid = self.proc.pid
        try:
            while self.proc.poll() is None and time.perf_counter() < deadline:
                self.peak_rss_mb = max(self.peak_rss_mb, _group_rss_mb(pgid))
                time.sleep(0.05)
            if self.proc.poll() is None:
                self.crash = f"killed at the {DEADLINE_S:.0f} s deadline"
        finally:  # also on a signal: stop everything the worker started
            _stop_group(pgid)
            self.proc.wait()
        reader.join()
        self.t_exit = time.perf_counter()

    def of(self, kind: str) -> list[tuple[float, dict]]:
        return [(t, e) for t, e in self.events if e["ev"] == kind]

    def first(self, kind: str) -> float | None:
        ts = [t for t, _ in self.of(kind)]
        return ts[0] if ts else None

    def ops(self) -> list[dict]:
        """Every attempted operation; one started but never reported
        (the worker died) is a failure timed up to the death."""
        done = {e["id"]: dict(e) for _, e in self.of("op")}
        for t, e in self.of("op_start"):
            if e["id"] not in done:
                done[e["id"]] = dict(e, ok=False, ms=1e3 * (self.t_exit - t),
                                     error=self.crash or "worker died")
        return [done[i] for i in sorted(done)]

    def timed_s(self) -> float:
        start = self.first("setup_done")
        end = self.first("timed_done") or self.t_exit
        return end - start

    def layers(self) -> dict[str, float]:
        out = {e["name"]: e["value"] for _, e in self.of("layer")}
        jvm = self.of("jvm")
        if jvm:
            out.update({k: v for k, v in jvm[-1][1].items() if k != "ev"})
        return out

    def tail_log(self) -> str:
        with open(self.log_path, errors="replace") as fh:
            return fh.read()[-3000:]


def calibrate() -> float:
    """One sample of a fixed CPU-bound job, bench.py's calibration probe
    (an md5 fold over a constant range) run in this process: it reads
    nothing and caches nothing, so a slow sample means a loaded box."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIB_ROWS):
        acc = (acc + int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)) % 1_000_003
    return time.perf_counter() - t0


def _env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        # session.py defaults to local[32]; pin Spark to the cores we have
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # session.py defaults to an 8 GB Spark heap. The heavy chat
        # fails at that size too; a 2 GB heap keeps a run's peak near
        # 3 GB on a shared box
        SPARK_GRAFT_DRIVER_MEM="2g",
        # pandas-UDF workers import the package by name
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _tail_ms(lat: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it. With
    twenty samples or fewer that percentile is at or below the median,
    so the largest sample is reported instead."""
    s = sorted(lat)
    return s[len(s) - 11] if len(s) > 20 else s[-1]


def end_to_end(run: Run) -> dict[str, float]:
    ops = run.ops()
    ok = [o for o in ops if o["ok"]]
    lat = [o["ms"] for o in ok] or [o["ms"] for o in ops]
    return {
        "setup_s": run.first("setup_done") - run.t0,
        "ok_ratio": len(ok) / len(ops),
        "ops_per_s": len(ok) / run.timed_s(),
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": _tail_ms(lat),
    }


def mean_op_ms(ops: list[dict]) -> float:
    return statistics.fmean(o["ms"] for o in ops)


def per_layer(run: Run, base_op_ms: float) -> dict[str, float]:
    """The traced run's layer numbers, plus the tracing overhead: the
    traced run's mean operation time against the untraced run's."""
    out = run.layers()
    out["mem.peak_rss_mb"] = run.peak_rss_mb
    ops = run.ops()
    traced = mean_op_ms(ops)
    out["trace.overhead_s"] = (traced - base_op_ms) * len(ops) / 1e3
    out["trace.overhead_ratio"] = traced / base_op_ms - 1.0
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def _fail(args, run: Run) -> bool:
    if run.first("setup_done") is not None and not run.of("crash"):
        return False
    detail = run.of("crash")[0][1]["error"] if run.of("crash") else run.tail_log()
    print(f"perfbench: {args.workload} run did not complete:\n{detail}", file=sys.stderr)
    return True


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("ingest", "serve"), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--toy", action="store_true", help="tiny inputs (smoke test)")
    args = p.parse_args()
    deadline = time.perf_counter() + DEADLINE_S
    signal.signal(signal.SIGTERM, _exit_on_signal)
    if not os.path.isfile(os.path.join(ROOT, "terrorblade_spark", "__init__.py")):
        print("perfbench: run from the repository root (terrorblade_spark/ not found)",
              file=sys.stderr)
        return 2
    env = {"env.loadavg": os.getloadavg()[0], "env.calib_s": calibrate()}
    if env["env.calib_s"] > LOADED_RATIO * CALIB_IDLE_S:
        print(f"perfbench: LOADED BOX: calibration took {env['env.calib_s']:.3f} s, "
              f"idle is about {CALIB_IDLE_S} s", file=sys.stderr)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    # the untraced run of this seed, kept so a traced run can measure
    # the tracing overhead without running the workload untraced again
    base_path = os.path.join(out, f"untraced_{args.workload}_{args.seed}_{args.seconds}"
                             f"{'_toy' if args.toy else ''}.json")
    try:
        if args.trace and os.path.exists(base_path):
            with open(base_path) as fh:
                base_op_ms = json.load(fh)["mean_op_ms"]
        else:
            run = Run(args, 0, work, out, deadline)
            if _fail(args, run):
                return 1
            base_op_ms = mean_op_ms(run.ops())
            with open(base_path, "w") as fh:
                json.dump({"mean_op_ms": base_op_ms}, fh)
        if args.trace:
            run = Run(args, 1, work, out, deadline)
            if _fail(args, run):
                return 1
            metrics = per_layer(run, base_op_ms) | env
        else:
            metrics = end_to_end(run)
        ops = run.ops()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: op {o['id']} {o['kind']} failed: {o.get('error', '')}",
                  file=sys.stderr)
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    print("perfbench: median ms per operation kind: " + json.dumps(
        {k: round(statistics.median(v), 1) for k, v in kinds.items()}), file=sys.stderr)
    phases = {e["name"]: round(t - run.t0, 2) for t, e in run.of("phase")}
    print(f"perfbench: {args.workload} seed {args.seed}: set-up phases end at {phases}; "
          f"peak RSS {run.peak_rss_mb:.0f} MB; {json.dumps(env)}", file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": not any(o.get("wrong") for o in ops),
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
