"""kgforge benchmark: one workload, one process, one SparkSession.

    python3 kgbench/run.py --workload batch_build --seed 1 --seconds 10 --trace 0

With ``--trace 0`` it prints every end-to-end metric by name and unit and,
as its last line, the result JSON. With ``--trace 1`` it runs the same
operations, then one traced operation and one more untraced one, and prints
the per-layer table instead (the traced minus the untraced operation is the
tracing overhead). Run it from the root of a checkout: it builds nothing,
imports ``kgforge`` from the checkout and keeps every file it writes under
``.kgbench_work/<workload>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("batch_build", "live_update")
END_TO_END = {  # name → unit
    "setup_s": "s",
    "pages_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}


# --- host shape --------------------------------------------------------------

def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _steal_s() -> float:
    """CPU time stolen from this host by the hypervisor, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def fit_host(work: str) -> dict:
    """Fit the session to this host from outside the engine (its settings
    are read from the environment) and return the host shape."""
    nproc = len(os.sched_getaffinity(0))
    mem_total_mb = _meminfo_kb("MemTotal") // 1024
    # a quarter of the RAM, at most 4 GB: the engine default (16g) is above
    # the RAM of small hosts, which have no swap
    driver_gb = max(1, min(4, mem_total_mb // 1024 // 4))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_LOCAL_DIR": local,  # on disk, not /dev/shm
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    return {"nproc": nproc, "mem_total_mb": mem_total_mb, "driver_mem": f"{driver_gb}g",
            "load_start": list(os.getloadavg()), "steal_start_s": _steal_s()}


# --- peak RSS of the driver JVM and its Python workers -----------------------

def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


RSS_INTERVAL_S = 0.05  # between two RSS samples
RSS_RESCAN = 10  # samples between two reads of the process tree


class RssSampler(threading.Thread):
    """Samples the summed RSS of every process this one started (the
    driver JVM and, under it, the Python workers) every ``RSS_INTERVAL_S``
    seconds; the process tree is re-read every ``RSS_RESCAN`` samples."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()
        self._pids: list[int] = []
        self._n = 0

    def sample(self) -> None:
        if self._n % RSS_RESCAN == 0:
            self._pids = _descendants(os.getpid())
        self._n += 1
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self._pids))

    def run(self) -> None:
        while not self._done.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        if self._done.is_set():
            return
        self._done.set()
        self.join()
        self._n = 0
        self.sample()


# --- stopping every process the run started ---------------------------------

STOP_GRACE_S = 20  # for the JVM and its Python workers to exit by themselves
TERM_WAIT_S = 5  # after SIGTERM, before SIGKILL
KILL_WAIT_S = 10  # after SIGKILL, before giving up


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of to
    init, so ``stop_processes`` can reap them: the Python workers outlive, by
    a moment, the JVM that started them."""
    try:
        import ctypes
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass  # not Linux: descendants are still waited for, just not reaped here


def stop_processes() -> None:
    """Stop every process this one started and wait until each has ended.

    Closing the JVM's stdin is PySpark's signal for it to exit, and its exit
    ends the Python workers it started. Whatever is still running after
    ``STOP_GRACE_S`` gets SIGTERM, and ``TERM_WAIT_S`` later SIGKILL."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError, ValueError):
            pass
        try:
            proc.wait(STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    t0 = time.monotonic()
    sent = None
    while True:
        while True:  # reap the children that have ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        left = _descendants(os.getpid())
        if not left:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > STOP_GRACE_S + TERM_WAIT_S else
               signal.SIGTERM if waited > STOP_GRACE_S else None)
        if waited > STOP_GRACE_S + TERM_WAIT_S + KILL_WAIT_S:
            print(f"kgbench: processes {left} did not end", file=sys.stderr)
            return
        if sig is not None and sig != sent:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            sent = sig
        time.sleep(0.05)


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally blocks that stop the JVM


# --- the run -----------------------------------------------------------------

def run(args) -> tuple[dict, list[str]]:
    from kgbench import trace as T
    from kgbench.workloads import WORKLOADS
    from kgforge.session import build_session

    work = os.path.join(ROOT, ".kgbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    host = fit_host(work)
    trace_dir = os.path.join(work, "trace")
    # no JVM perf-data file: it would go to /tmp/hsperfdata_<user>
    jvm = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    extra = {"spark.ui.showConsoleProgress": "false", "spark.driver.extraJavaOptions": jvm}
    if args.trace:
        os.makedirs(os.path.join(trace_dir, "eventlog"))
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": "file://" + os.path.join(trace_dir, "eventlog")})

    sampler = RssSampler()
    sampler.start()
    t_setup = time.perf_counter()
    t_wall = time.time()
    spark = build_session(app=f"kgbench-{args.workload}", master=f"local[{host['nproc']}]", extra=extra)
    try:
        start_s = time.perf_counter() - t_setup
        data = os.path.join(work, "data")
        os.makedirs(data)
        wl = WORKLOADS[args.workload](spark, data, args.seed)
        t_warm = time.perf_counter()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", "session")
        wl.warm_up()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        warm_s = time.perf_counter() - t_warm
        session = {"start_s": start_s, "worker_warmup_s": warm_s, "window": (t_wall, time.time())}
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        lat, pages, attempted, failed = [], 0, 0, 0

        def one(k: int, tracer=None) -> tuple[float, float]:
            """Run and check operation ``k``; return its latency and the
            wall-clock time it ended at."""
            nonlocal pages, attempted, failed
            attempted += 1
            try:
                n, dt = wl.op(k, tracer)
                end = time.time()
                ok = wl.check(k)
            except Exception:  # an operation that raises counts as failed
                traceback.print_exc()
                n, dt, end, ok = 0, float("nan"), time.time(), False
            if ok:
                pages += n
                lat.append(dt)
            else:
                failed += 1
            return dt, end

        k, measured = 0, 0.0
        while measured < args.seconds:
            k += 1
            dt, _ = one(k)
            measured += dt if dt == dt else args.seconds
        table = {}
        if args.trace:
            tracer = T.Tracer(spark, f"{args.workload}-{args.seed}")
            traced, t1 = one(k + 1, tracer)
            untraced, _ = one(k + 2)
            events = T.read_event_log(os.path.join(trace_dir, "eventlog"))
            table = T.layer_table(tracer, events, (t1 - traced, t1), session,
                                  lambda groups: wl.trace_extras(tracer, groups), untraced)
            tracer.release()
            tracer.dump(os.path.join(trace_dir, "spans.json"))
        sampler.stop()
        try:
            final_ok = wl.final_check()
        except Exception:
            traceback.print_exc()
            final_ok = False
        if not final_ok:
            failed = attempted
    finally:
        spark.stop()
        sampler.stop()
    host["load_end"] = list(os.getloadavg())
    host["steal_s"] = _steal_s() - host.pop("steal_start_s")

    end_to_end = {  # with no successful operation the run is not correct anyway
        "setup_s": setup_s,
        "pages_per_s": pages / sum(lat) if lat else 0.0,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "peak_rss_mb": sampler.peak_kb / 1024,
        "ok_frac": 1 - failed / attempted,
    }
    lines = [f"host nproc={host['nproc']} mem_total_mb={host['mem_total_mb']} driver_mem={host['driver_mem']} "
             f"load_start={host['load_start'][0]:.2f} load_end={host['load_end'][0]:.2f} steal_s={host['steal_s']:.2f}",
             f"workload {args.workload} seed={args.seed} ops={len(lat)} attempted={attempted} failed={failed} "
             "(one client, closed loop)",
             f"setup session_start_s={start_s:.3f} warmup_s={warm_s:.3f} inputs_s={setup_s - start_s - warm_s:.3f}"]
    lines += [f"{name} {end_to_end[name]:.6g} {unit}" + (f" (n={len(lat)})" if name.startswith("op_") else "")
              for name, unit in END_TO_END.items()]
    lines.append("op_latencies_s " + " ".join(f"{x:.3f}" for x in lat))
    lines += [f"check {k} {v}" for k, v in wl.report.items()]
    if args.trace:
        lines += [f"{name} {table[name]:.6g} {T.unit_of(name)}" for name in T.metric_names()]
        metrics = {n: {"value": table[n], "unit": T.unit_of(n)} for n in T.metric_names()}
    else:
        metrics = {n: {"value": end_to_end[n], "unit": u} for n, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({"host": host, "workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "latencies_s": lat, "end_to_end": end_to_end, "per_layer": table,
                   "report": wl.report, "result": result}, fh, indent=1, default=str)
    for d in ("data", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="operation time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kgforge", "__init__.py")):
        print(f"kgbench: no kgforge package under {ROOT}; run from a kgforge checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        result, lines = run(args)
    finally:
        stop_processes()
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
