"""Extraction benchmark driver.

    python3 extbench/run.py --workload {interleaved,digital} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One process is one
closed loop: one client submitting back-to-back committed jobs to
``local[n]``, n = CPUs in this process's affinity mask. The run:

1. builds (or reuses) the seeded inputs under ``.extbench/``;
2. set-up (``setup_s``): starts the session with ``session.get_spark``,
   opens the inputs and runs full-size warm-up jobs until the job walls
   stop falling (see ``warm_up``);
3. runs timed jobs for ``--seconds`` (at least ``MIN_TIMED_JOBS``),
   recording each job's wall and the CPU time of the whole process tree;
4. checks every committed output (warm-up and timed) against its
   expected value, and that a resume of each finds no work;
5. with ``--trace 1``, also times each layer from outside (``trace.py``),
   runs one instrumented committed retry ladder (``plans.cascade``) over
   ``SIZES["ladder"]`` single-page docs, and reads Spark's event log; the
   timed jobs of a traced run give ``trace.docs_per_s`` for the tracing
   overhead.

Human-readable lines (metrics with unit and sample count, the host
stamp) come first; the last line of stdout is the JSON result. The exit
code is 1 when any operation failed, 2 when the package is missing.
Run as a script, the driver exits only after every process it started
(the JVM, Spark's Python daemon and workers, the input generator's
helpers) has ended, on every path out, SIGTERM included.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Docs per job (ladder: docs of the traced ladder probe). Each synth job
# is sized so that fixed per-job cost is a minority of it and a run fits
# its time budget; NOTES.md has the measurements.
SIZES = {"interleaved": 8000, "digital": 40000, "ladder": 600}
MIN_TIMED_JOBS = 3
# Warm-up: a job that is no faster than WARM_TOL below the best wall so
# far counts as flat; after WARM_MIN jobs, WARM_FLAT flat jobs in a row
# end the warm-up, and so does the WARM_MAX-th job. A cap in jobs, not
# seconds, keeps the JIT state at the first timed job the same on a slow
# (stolen) host as on an idle one.
WARM_MIN, WARM_TOL, WARM_FLAT, WARM_MAX = 4, 0.03, 2, 5
# JVM heap: the package default (8g) is half of a 16 GB host whose memory
# other processes share; the workloads peak well below 4g.
DRIVER_MEM = "4g"


def affinity_cpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# /proc: CPU of the whole process tree, steal, RAM
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # exited between listdir and open
        return None
    return s[s.rindex(")") + 2:].split()


def _proc_tree() -> tuple[dict[int, list[str]], dict[int, list[int]]]:
    """Every live process: pid → stat fields, and ppid → child pids."""
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fl = _stat_fields(pid)
        if fl is None:
            continue
        fields[int(pid)] = fl
        children.setdefault(int(fl[1]), []).append(int(pid))
    return fields, children


def _descendants(fields, children, root_pid: int) -> list[int]:
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """utime+stime+cutime+cstime summed over ``root_pid`` and all its
    descendants: the driver Python, the JVM, the Python daemon and its
    workers (reaped workers land in their parent's cutime/cstime)."""
    root_pid = root_pid or os.getpid()
    fields, children = _proc_tree()
    total = 0
    for pid in [root_pid] + _descendants(fields, children, root_pid):
        fl = fields.get(pid)
        if fl is not None:
            # fields after "pid (comm)": state=0 ppid=1 … utime=11 stime=12
            # cutime=13 cstime=14
            total += sum(int(x) for x in fl[11:15])
    return total / _TICK


def steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 2)
    return 0.0


# ---------------------------------------------------------------------------
# process lifetime: the run ends only after everything it started
# ---------------------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts. A
    descendant whose parent exits first (Spark's Python daemon and its
    workers once the JVM has gone; they run in a process group of their
    own) is then re-parented here, not to init, so ``end_descendants``
    still finds it and waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                           f"{os.strerror(err)}")


def end_descendants(grace_s: float = 15.0) -> None:
    """Return only once every descendant of this process has ended and
    been reaped: descendants get ``grace_s`` to exit by themselves (the
    Python daemon exits once the JVM has closed its stdin), then SIGTERM,
    and SIGKILL ``grace_s`` after that."""
    t0 = time.monotonic()
    sent = None
    while True:
        while True:  # reap every exited child
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        fields, children = _proc_tree()
        alive = [p for p in _descendants(fields, children, os.getpid())
                 if fields[p][0] != "Z"]
        if not alive and not children.get(os.getpid()):
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > 2 * grace_s
               else signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            print(f"extbench: sending {sig.name} to {len(alive)} "
                  f"leftover process(es)", file=sys.stderr)
            sent = sig
        if sig is not None:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _exit_on_sigterm(signum, frame) -> None:
    sys.exit(128 + signum)  # runs every ``finally`` on the way out


# ---------------------------------------------------------------------------
# session and loop
# ---------------------------------------------------------------------------

def start_session(cpus: int, scratch: str, event_dir: str | None):
    """``session.get_spark`` with the benchmark's host settings: thread
    count from the affinity mask, every temp and shuffle file inside the
    checkout, and Spark's event log when tracing."""
    from angola_erp_ocr_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit's short-lived launcher JVM: no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="extbench", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its signal to exit) and wait
    until it has ended, so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_job(wl, out: str) -> dict:
    c0, t0 = tree_cpu_s(), time.perf_counter()
    docs = wl.run(out)
    wall = time.perf_counter() - t0
    return {"out": out, "docs": docs, "wall_s": wall,
            "cpu_s": tree_cpu_s() - c0}


def warm_up(wl, work: str) -> list[dict]:
    """Full-size jobs until the walls stop falling: at least WARM_MIN
    jobs, ending once WARM_FLAT jobs in a row failed to beat the best wall
    so far by more than WARM_TOL, or after WARM_MAX jobs (the JVM keeps
    compiling for minutes; NOTES.md)."""
    jobs: list[dict] = []
    flat = 0
    while True:
        j = run_job(wl, os.path.join(work, f"warm{len(jobs)}"))
        best = min((x["wall_s"] for x in jobs), default=None)
        jobs.append(j)
        flat = flat + 1 if best and j["wall_s"] > best * (1 - WARM_TOL) \
            else 0
        if len(jobs) >= WARM_MAX or (len(jobs) >= WARM_MIN
                                     and flat >= WARM_FLAT):
            return jobs


def timed_loop(wl, work: str, seconds: float) -> list[dict]:
    jobs: list[dict] = []
    t0 = time.perf_counter()
    while (len(jobs) < MIN_TIMED_JOBS
           or time.perf_counter() - t0 < seconds):
        jobs.append(run_job(wl, os.path.join(work, f"job{len(jobs)}")))
    return jobs


def check_all(wl, jobs: list[dict]) -> tuple[int, int]:
    """(attempted, failed) over every committed output: each doc is one
    operation, each resume one more."""
    attempted = failed = 0
    for j in jobs:
        a, f = wl.check(j["out"])
        attempted += a + 1
        failed += f + (1 if wl.resume_commits(j["out"]) else 0)
    return attempted, failed


def summarize(jobs: list[dict]) -> dict:
    rates = [j["docs"] / j["wall_s"] for j in jobs]
    cost = [1000 * j["cpu_s"] / j["docs"] for j in jobs]
    half = len(rates) // 2
    return {
        "docs_per_s": statistics.median(rates),
        "core_ms_per_doc": statistics.median(cost),
        "rates": rates,
        # ramp check: first-half vs second-half median of the timed jobs
        "halves_drift": (statistics.median(rates[half:])
                         / statistics.median(rates[:half]) - 1)
        if half else 0.0,
    }


def host_stamp(spark, inputs: str, steal: float) -> dict:
    from . import gen

    jvm = spark.sparkContext._jvm
    return {
        "cpus_affinity": affinity_cpus(),
        "ram_gb": ram_gb(),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "spark": spark.version,
        "steal_s": round(steal, 2),
        "generator_digest": gen.source_digest(ROOT),
        "input_digest": gen.input_digest(inputs),
    }


def main(argv: list[str] | None = None, sizes: dict | None = None,
         cache: str | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interleaved", "digital"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sizes = sizes or SIZES

    try:
        import angola_erp_ocr_spark  # noqa: F401
    except ImportError as e:
        print(f"extbench: cannot import the package: {e}", file=sys.stderr)
        return 2
    from . import gen, trace
    from .workloads import WORKLOADS

    cpus = affinity_cpus()
    cache = cache or os.path.join(ROOT, ".extbench")
    digest = gen.source_digest(ROOT)
    gen.ensure_pools(ROOT, cache, digest,
                     {k: sizes[k] for k in ("interleaved", "digital")}, cpus)
    inputs = gen.seeded_inputs(ROOT, cache, args.workload, args.seed,
                               sizes[args.workload], cpus)
    ladder_inputs = (gen.seeded_inputs(ROOT, cache, "ladder", args.seed,
                                       sizes["ladder"], cpus)
                     if args.trace else None)
    scratch = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    work = os.path.join(scratch, "out")
    event_dir = os.path.join(scratch, "events") if args.trace else None

    steal0 = steal_s()
    t0 = time.perf_counter()
    spark = start_session(cpus, scratch, event_dir)
    try:
        start_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, inputs)
        warm = warm_up(wl, work)
        setup_s = time.perf_counter() - t0
        timed = timed_loop(wl, work, args.seconds)
        phases = {"setup": setup_s,
                  "timed": time.perf_counter() - t0 - setup_s}
        attempted, failed = check_all(wl, warm + timed)
        phases["check"] = time.perf_counter() - t0 - sum(phases.values())
        if args.trace:
            ladder = WORKLOADS["ladder"](spark, ladder_inputs)
            layers, ladder_out = trace.trace_layers(
                spark, wl, ladder, os.path.join(scratch, "trace"))
            a, f = check_all(ladder, [{"out": ladder_out}])
            attempted, failed = attempted + a, failed + f
            phases["trace"] = (time.perf_counter() - t0
                               - sum(phases.values()))
        stamp = host_stamp(spark, inputs, steal_s() - steal0)
    finally:
        stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    s = summarize(timed)
    n = len(timed)
    print(f"workload={args.workload} seed={args.seed} docs/job={wl.docs} "
          f"warmup_walls_s={[round(j['wall_s'], 3) for j in warm]} "
          f"timed_walls_s={[round(j['wall_s'], 3) for j in timed]}")
    print(f"halves_drift={s['halves_drift']:+.4f} (second-half vs first-half "
          f"median docs_per_s of the timed jobs)")
    print("phase_s " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    if args.trace:
        metrics = dict(layers)
        metrics["session.start_s"] = (start_s, "s", 1)
        metrics["session.warmup_jobs"] = (len(warm), "count", 1)
        metrics["trace.docs_per_s"] = (s["docs_per_s"], "1/s", n)
    else:
        print("timed docs_per_s: "
              + " ".join(f"{r:.1f}" for r in s["rates"]))
        metrics = {
            "setup_s": (setup_s, "s", 1),
            "docs_per_s": (s["docs_per_s"], "1/s", n),
            "core_ms_per_doc": (s["core_ms_per_doc"], "ms", n),
        }
    for name, (value, unit, samples) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit} (samples={samples})")
    print("host " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]}
                    for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    # package-relative imports
    from extbench.run import adopt_orphans, end_descendants, main as _main
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    adopt_orphans()
    try:
        code = _main()
    finally:
        end_descendants()
    sys.exit(code)
