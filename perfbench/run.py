"""KG-engine benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload parse_pages --seed 1 --seconds 10 \
        --trace 0

Workloads: parse_pages and build_kg (BENCHMARK.json), plus the leg
parse_pages_1core (perfbench/README.md, perfbench/scaling.py). With ``--trace 0``
the workload runs back to back (each run starts when the previous one
ends) on one local Spark session for ``--seconds`` seconds and at least
MIN_RUNS times, every run's output is checked, and the last stdout line is
one JSON object with the end-to-end metrics. With ``--trace 1`` the
per-layer ledger runs instead (perfbench/ledger.py) and the last line
carries the per-layer metrics. ``--scale tiny`` shrinks every corpus for
the self-test (perfbench/selftest.py).

Everything the run writes lives under ``.perfbench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3   # input generation is repeated; its median is reported
MIN_RUNS = 3     # timed runs per measurement, even past --seconds


def process_tree(root: int) -> dict[int, tuple[int, tuple, int]]:
    """``root`` and its descendants: pid -> (parent pid, (vsize, rss),
    CPU clock ticks of the process and its reaped children)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state, ppid, ...; utime, stime,
        # cutime, cstime are 11-14, vsize and rss 20-21
        procs[int(name)] = (int(f[1]), (f[20], f[21]),
                            sum(int(x) for x in f[11:15]))
    tree, grew = {root}, True
    while grew:
        more = {p for p, v in procs.items() if v[0] in tree and p not in tree}
        tree |= more
        grew = bool(more)
    return {p: procs[p] for p in tree if p in procs}


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``, its descendants and their
    reaped children. Time the host steals from the machine is not in it."""
    ticks = os.sysconf("SC_CLK_TCK")
    return sum(v[2] for v in process_tree(root).values()) / ticks


class RssSampler(threading.Thread):
    """Peak resident memory summed over this process and all of its
    descendants (the JVM and its Python workers), sampled from /proc.

    Each process counts its proportional set size (``Pss`` in
    ``smaps_rollup``): forked Python workers share pages with their
    daemon, and plain RSS would count those pages once per fork.

    The sampler's own CPU time (``cpu_s``) is charged to this process;
    :func:`costed` takes it back out of a measured call."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.root = os.getpid()
        self.peak = 0
        self.at_peak: list[int] = []  # per-process MB at the peak
        self.cpu = 0.0  # this thread's CPU seconds, after its last sample
        self.done = threading.Event()
        self.lock = threading.Lock()

    def tree_pss(self) -> dict[int, int]:
        """Proportional set size in bytes of each process in the tree."""
        tree = process_tree(self.root)
        pss = {}
        for pid, (ppid, mm, _) in tree.items():
            # a child spawned with a shared address space (vfork, before
            # its exec) reports its parent's memory: count it once
            if pid != self.root and mm == tree.get(ppid, (0, None))[1]:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            pss[pid] = int(line.split()[1]) << 10
                            break
            except OSError:
                continue
        return pss

    def run(self) -> None:
        while not self.done.wait(self.period):
            pss = self.tree_pss()
            total = sum(pss.values())
            with self.lock:
                self.cpu = time.thread_time()
                if total > self.peak:
                    self.peak = total
                    self.at_peak = sorted(
                        (round(v / (1 << 20)) for v in pss.values()),
                        reverse=True)

    def reset(self) -> None:
        with self.lock:
            self.peak = 0
            self.at_peak = []

    def peak_mb(self) -> float:
        with self.lock:
            return self.peak / (1 << 20)

    def cpu_s(self) -> float:
        with self.lock:
            return self.cpu


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the host took from this machine (``steal``)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def environment(spark, pinning: str) -> dict:
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(path):
                with open(path) as fh:
                    commit = fh.read().strip()
        else:
            commit = ref
    import pyspark
    return {"nproc": os.cpu_count(),
            "cpus_allowed": len(os.sched_getaffinity(0)),
            "pinning": pinning,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "commit": commit}


def costed(fn, sampler: RssSampler | None = None
           ) -> tuple[float, float, object]:
    """(wall seconds, CPU seconds of this process tree, result) of a call.
    The memory sampler's own CPU time over the call is not counted."""
    root = os.getpid()
    own0 = sampler.cpu_s() if sampler else 0.0
    cpu0, t0 = tree_cpu_s(root), time.perf_counter()
    out = fn()
    wall, cpu = time.perf_counter() - t0, tree_cpu_s(root) - cpu0
    if sampler:
        cpu -= sampler.cpu_s() - own0
    return wall, cpu, out


def measure(w, spark, seconds: float, sampler: RssSampler) -> dict:
    """The closed loop: runs back to back until ``seconds`` have passed
    (at least MIN_RUNS), each checked after it ends. The calibration job
    runs before the first run and after each run."""
    from perfbench.workloads import calibration, jvm_gc_s, log

    def calibrate():
        calib.append(costed(lambda: calibration(spark), sampler)[1])

    walls, cpus, quads, gcs, errors, calib = [], [], [], [], [], []
    attempted = 0
    sampler.reset()
    own0 = sampler.cpu_s()
    t_end = time.perf_counter() + seconds
    calibrate()
    while attempted < MIN_RUNS or time.perf_counter() < t_end:
        attempted += 1
        try:
            gc0 = jvm_gc_s(spark)
            wall, cpu, n = costed(lambda: w.run(spark), sampler)
            gc = jvm_gc_s(spark) - gc0
            err = w.check(spark)
        except Exception as exc:  # a failed run is counted, not fatal
            err = f"{type(exc).__name__}: {exc}"
        finally:
            w.cleanup()
        calibrate()
        if err:
            errors.append(err)
            log(f"run {attempted} FAILED: {err}")
            continue
        walls.append(wall)
        cpus.append(cpu)
        quads.append(n)
        gcs.append(gc)
        log(f"run {attempted}: wall {wall:.3f} s, cpu {cpu:.3f} s, "
            f"gc {gc:.3f} s, {n} quads")
    return {"walls": walls, "cpus": cpus, "quads": quads, "gcs": gcs,
            "calib": calib, "attempted": attempted, "errors": errors,
            "sampler_cpu_s": sampler.cpu_s() - own0,
            "peak_rss_mb": sampler.peak_mb(),
            "peak_rss_by_process_mb": sampler.at_peak}


def untraced(w, seconds: float, pinning: str) -> tuple[dict, dict]:
    from perfbench.workloads import (CALIB_CPU_S, DRIVER_HEAP, calibration,
                                     log, start_spark, stop_spark)
    sampler = RssSampler()
    sampler.start()
    load_before = os.getloadavg()
    parts = {}
    parts["session"] = costed(lambda: start_spark(w.work, w.cores), sampler)
    spark = parts["session"][2]
    try:
        reps = [costed(lambda: w.make_inputs(spark, i), sampler)
                for i in range(SETUP_REPS)]
        # the median input generation, by CPU seconds
        parts["inputs"] = sorted(reps, key=lambda r: r[1])[len(reps) // 2]
        parts["expect"] = costed(lambda: w.expect(spark), sampler)
        warm_errs = []

        def warm_up():
            for _ in range(w.warmup_runs):
                w.run(spark)
                warm_errs.append(w.check(spark))
                w.cleanup()

        parts["warm_up"] = costed(warm_up, sampler)
        log("setup: " + ", ".join(f"{k} {v[0]:.2f} s wall / {v[1]:.2f} s cpu"
                                  for k, v in parts.items()))
        for _ in range(2):  # untimed: its first runs in a session compile
            calibration(spark)
        cpu_before = cpu_times()
        m = measure(w, spark, seconds, sampler)
        env = environment(spark, pinning)
        env["cpu_steal_share"] = round(steal_share(cpu_before, cpu_times()),
                                       4)
        probe = w.sink_probe(spark, lambda fn: costed(fn, sampler))
    finally:
        stop_spark(spark)
        sampler.done.set()
        sampler.join()
    for err in warm_errs:
        m["attempted"] += 1
        if err:
            m["errors"].append(f"warm-up: {err}")
    env["load_before"] = [round(x, 2) for x in load_before]
    env["load_after"] = [round(x, 2) for x in os.getloadavg()]
    ok = bool(m["walls"])
    med = statistics.median
    # CPU seconds at the calibration speed: raw CPU seconds times the
    # calibration job's reference CPU seconds over its median in this
    # process (below 1 when the host runs this machine slowly)
    speed = CALIB_CPU_S / med(m["calib"])
    raw = {
        "quads_per_cpu_s": (med(q / c for q, c in zip(m["quads"], m["cpus"]))
                            if ok else 0.0),
        "cpu_s": med(m["cpus"]) if ok else 0.0,
        "setup_s": sum(v[1] for v in parts.values()),
    }
    metrics = {
        "quads_per_cpu_s": (raw["quads_per_cpu_s"] / speed, "1/s"),
        "cpu_s": (raw["cpu_s"] * speed, "s"),
        "setup_s": (raw["setup_s"] * speed, "s"),
        "peak_rss_mb": (m["peak_rss_mb"], "MB"),
    }
    detail = {
        "workload": w.name, "seed": w.seed, "corpus": w.corpus,
        "runs": len(m["walls"]), "attempted": m["attempted"],
        "failed_share": len(m["errors"]) / m["attempted"],
        "errors": m["errors"][:5],
        "wall_s": med(m["walls"]) if ok else None,
        "quads_per_s": (med(q / t for q, t in zip(m["quads"], m["walls"]))
                        if ok else None),
        "wall_s_samples": [round(x, 4) for x in m["walls"]],
        "cpu_s_samples": [round(x, 4) for x in m["cpus"]],
        "calibration_cpu_s_samples": [round(x, 4) for x in m["calib"]],
        "speed_factor": speed,
        "unscaled": raw,
        "setup_wall_s": sum(v[0] for v in parts.values()),
        "setup_parts_s": {k: {"wall": round(v[0], 3), "cpu": round(v[1], 3)}
                          for k, v in parts.items()},
        "peak_rss_by_process_mb": m["peak_rss_by_process_mb"],
        # driver JVM garbage collection per run (median) and its share of
        # the run's CPU seconds
        "jvm_gc_s": med(m["gcs"]) if ok else None,
        "jvm_gc_share_of_cpu": (med(g / c for g, c in zip(m["gcs"],
                                                         m["cpus"]))
                                if ok else None),
        "driver_heap": DRIVER_HEAP,
        # the memory sampler's CPU per run, already left out of cpu_s
        "sampler_cpu_s_per_run": m["sampler_cpu_s"] / m["attempted"],
        "block_error_share_planted": round(
            w.corpus["malformed_blocks"] / w.corpus["blocks"], 6)
        if "blocks" in w.corpus else None,
        "env": env,
    }
    if probe and ok:
        # what the check's fold costs as the sink, over a noop sink
        extra = probe["sink_fold_cpu_s"] - probe["sink_noop_cpu_s"]
        detail["sink_probe"] = dict(probe, fold_extra_cpu_s=extra,
                                    fold_share_of_cpu_s=extra
                                    / med(m["cpus"]))
    result = {"correct": not m["errors"], "attempted": m["attempted"],
              "failed": len(m["errors"]),
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import jsonld_streaming_parser_js_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import workloads as wl
    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    scale = wl.TINY if args.scale == "tiny" else wl.FULL
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pinning = "none"
        if args.workload == "parse_pages_1core":
            pinning = wl.pin_one_cpu()
        w = wl.WORKLOADS[args.workload](work, args.seed, scale)
        if args.trace:
            from perfbench.ledger import traced
            try:
                result, detail = traced(w, pinning, scale)
            except RuntimeError as exc:  # a failed output check
                result = {"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}
                detail = {"workload": w.name, "error": str(exc)}
        else:
            result, detail = untraced(w, args.seconds, pinning)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
