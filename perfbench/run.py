"""Repository benchmark: the extraction engine run as its users run it.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch_steady --seed 1 --seconds 12 --trace 0

One driver process, ``local[4]``, one job in flight (a closed loop). The
run builds its session and runs a light untimed warm-up job SETUPS times
(``setup_s`` is their median), runs the workload's full job ``warm_jobs``
times untimed, then repeats it until the jobs' wall time adds up to
``--seconds`` (and at least MIN_JOBS times), gating every job's output
against the oracle outside the timed region. Each job is timed in wall
seconds and in CPU seconds of the driver, its JVM and the JVM's Python
workers. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it holds the run's details: host health, input properties, every job's
wall and CPU time, the host's steal share and the JVM's JIT and GC time
while the timed jobs ran, and, when traced, the spans.

Workloads, their layers and the end-to-end metric each layer metric should
move are listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_steady", "batch_skewed", "incremental_small", "media_decode")
SETUPS = 3
MIN_JOBS = 4
DEADLINE_S = 150  # stop starting jobs after this much run time


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_health() -> dict:
    """bench.py's single-core calibration spin, min of 2, against its
    healthy-host reference; a degraded host is flagged, not hidden."""
    import bench

    t = min(bench._calibration_spin() for _ in range(2))
    limit = bench.CALIB_REF_SEC * bench.CALIB_TOLERANCE
    return {"calibration_sec": round(t, 4), "ref_sec": bench.CALIB_REF_SEC,
            "degraded": t > limit}


def cpu_ticks() -> list[int]:
    """This host's CPU time so far, in clock ticks: user, system, idle,
    iowait and steal (time the hypervisor gave to other guests)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return [v[0] + v[1], v[2] + v[5] + v[6], v[3], v[4], v[7]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {k: round(x / total, 4)
            for k, x in zip(("user", "system", "idle", "iowait", "steal"), d)}


def jvm_stats(spark) -> dict:
    """The driver JVM's cumulative JIT compile and GC time, in seconds."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {"jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())) / 1e3}


def build_session(work: str):
    from dd_ops_ocr_spark.session import build_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return build_spark(
        app="perfbench", cores=4, shuffle_partitions=8, driver_memory="3g",
        extra={
            "spark.driver.extraJavaOptions":
                f"-Xlog:disable -Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    # import the checkout's packages, never this directory's modules by
    # their bare names (trace.py would shadow the standard library's)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    try:
        import bench  # noqa: F401  (calibration spins, read-only)
        import dd_ops_ocr_spark  # noqa: F401
        from perfbench import inputs, procs, trace, workloads
    except ImportError as exc:
        print(f"perfbench: the program is not here ({exc})", file=sys.stderr)
        return 2
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    t_run = time.monotonic()
    work = os.path.join(HERE, "_work", f"{args.workload}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    health = host_health()
    t0 = time.perf_counter()
    root, props = inputs.land(args.workload, args.seed)
    land_s = time.perf_counter() - t0
    wl = workloads.make(args.workload, root, props, work, args.seed)
    spark = None
    try:
        setups = []
        for _ in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = build_session(work)
            wl.warmup(spark)
            setups.append(time.perf_counter() - t0)

        for _ in range(wl.warm_jobs):
            wl.job(spark)

        jobs, untraced, crashed, errors = [], [], 0, []
        tr = trace.Tracer(spark, f"{args.workload}-s{args.seed}") if args.trace else None
        rd = trace.StatusReader(spark) if args.trace else None
        # untimed runs measure --seconds of job wall time; a traced job
        # also runs its probes, so traced runs count all their time
        spent, min_jobs = 0.0, 1 if args.trace else MIN_JOBS
        jvm0, ticks0 = jvm_stats(spark), cpu_ticks()
        while (spent < args.seconds or len(jobs) < min_jobs) \
                and time.monotonic() - t_run < DEADLINE_S \
                and not getattr(wl, "exhausted", lambda: False)():
            t0 = time.perf_counter()
            try:
                job = wl.traced_job(spark, tr, rd) if args.trace else wl.job(spark)
            except Exception as exc:  # noqa: BLE001 - a failed job is counted
                crashed += 1
                errors.append(f"{type(exc).__name__}: {exc}"[:500])
                break
            jobs.append(job)
            spent += time.perf_counter() - t0 if args.trace else job.wall
            if not job.ok:
                errors.append(job.why[:500])
        host_cpu = cpu_shares(ticks0, cpu_ticks())
        jvm = {k: v - jvm0[k] for k, v in jvm_stats(spark).items()}
        if args.trace:
            # untraced twins of the traced job give the tracing overhead
            for _ in range(2):
                if getattr(wl, "exhausted", lambda: False)():
                    break
                untraced.append(wl.job(spark))
        rss = procs.peak_rss_mb()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(jobs) + crashed
    failed = crashed + sum(not j.ok for j in jobs)
    walls = [j.wall for j in jobs]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": health, "input": {k: v for k, v in props.items()
                                  if k not in ("expect", "delta_new_ids")},
        "land_s": land_s, "setups_s": setups, "job_walls_s": walls,
        "job_cpus_s": [j.cpu for j in jobs], "job_jits_s": [j.jit for j in jobs],
        "rss_mb": rss,
        "timed_host_cpu": host_cpu, "timed_jvm": jvm,
        "run_s": time.monotonic() - t_run, "errors": errors,
    }
    if args.trace:
        layers = workloads.median_layers(jobs)
        if untraced:
            base = statistics.median(j.wall for j in untraced)
            layers["trace.overhead_frac"] = statistics.median(walls) / base - 1
            layers["job.wall_s"] = base
            layers["job.items_per_s"] = statistics.median(j.items / j.wall for j in untraced)
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in workloads.LAYER_METRICS.items()}
        detail["spans"] = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": tr.self_time(s)} for s in tr.spans]
        detail["untraced_walls_s"] = [j.wall for j in untraced]
    else:
        # wall time is reported, not bounded: hypervisor steal on a shared
        # host moves it by 20-40% between runs (README.md)
        if jobs:
            detail["job_s"] = statistics.median(walls)
            detail["items_per_s"] = statistics.median(j.items / j.wall for j in jobs)
            detail["job_jit_s"] = statistics.median(j.jit for j in jobs)
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "job_cpu_s": {"value": statistics.median(j.cpu - j.jit for j in jobs)
                          if jobs else float("nan"), "unit": "s"},
            "out_bytes_per_in_byte": {
                "value": sum(j.out_bytes for j in jobs) / sum(j.in_bytes for j in jobs)
                if jobs else float("nan"),
                "unit": "ratio"},
            "peak_rss_mb": {"value": rss["total"], "unit": "MB"},
        }
        if len(walls) >= 10:
            detail["job_s_p90"] = statistics.quantiles(walls, n=10)[-1]
    print(workloads.dumps(detail))
    print(workloads.dumps({
        "correct": failed == 0 and bool(jobs), "attempted": max(attempted, 1),
        "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
