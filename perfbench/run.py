"""Benchmark command: one workload, one SparkSession, one JSON result.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a SparkSession at local[<cores>], runs the workload's
warm-up passes, then timed passes, and checks every timed pass's
outputs against results computed apart from the engine. With
``--trace 1`` it also runs as many traced passes and reports the
per-layer metrics instead of the end-to-end ones. The last stdout line
is the result object; a provenance line precedes it.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402

PKG = tracing.PKG
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s"}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fd:
        return [float(x) for x in fd.read().split()[:3]]


def _cpu_times() -> dict[str, float]:
    """CPU seconds since boot of the whole machine: busy, and stolen by
    the hypervisor."""
    with open("/proc/stat") as fd:
        f = [int(x) for x in fd.readline().split()[1:9]]
    tck = os.sysconf("SC_CLK_TCK")
    return {"busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / tck, "steal": f[7] / tck}


def _code_digest(root: str) -> str:
    """Digest of the engine sources, naming the code version when the
    checkout is not a git repository."""
    h = hashlib.sha1()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, fs in os.walk(os.path.join(root, PKG)):
        files += [os.path.join(d, f) for f in fs if f.endswith((".py", ".json"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fd:
            h.update(fd.read())
    return h.hexdigest()[:16]


def provenance(root: str, cores: int) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "commit": commit, "code_digest": _code_digest(root), "cores": cores,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "loadavg_before": _loadavg(),
    }


def start_session(cores: int, work: str):
    from cookieblock_consent_classifier_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_passes(wl, spark, tracer, n: int, tag: str) -> tuple[list[float], list, list[str]]:
    walls, errors, outs = [], [], []
    for i in range(n):
        out = os.path.join(wl.work, "out", f"{tag}{i}")
        tracer.begin_pass()
        t0 = time.perf_counter()
        with tracer.span("pass"):
            errors.append(wl.run_pass(spark, tracer, out))
        walls.append(time.perf_counter() - t0)
        tracer.end_pass(spark)
        outs.append(out)
    return walls, errors, outs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one pass each")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, PKG)) and
            os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print(f"error: {PKG}/ and __spark_entry__.py not found in {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine from the checkout; every scratch
    # file Spark, the JVM or DuckDB writes stays under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    prov = provenance(root, args.cores)
    cpu0 = _cpu_times()
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.smoke)
    tracer = tracing.Tracer()
    spark = None
    try:
        wl.prepare()
        t0 = time.perf_counter()
        spark = start_session(args.cores, work)
        session_start_s = time.perf_counter() - t0
        wl.setup(spark, tracer)
        for i in range(0 if args.smoke else wl.warmup_passes):
            wl.run_pass(spark, tracer, os.path.join(work, "out", f"warm{i}"))
        setup_s = time.perf_counter() - t0
        shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)

        n = 1 if args.smoke else max(1, round(args.seconds / wl.nominal_pass_s))
        if not args.trace:
            walls, errors, outs = run_passes(wl, spark, tracer, n, "timed")
        else:
            # untraced and traced passes alternate (ABBA), so both medians
            # come from the same part of the run
            walls, t_walls, errors, outs = [], [], [], []
            for i in range(n):
                for traced in ((False, True) if i % 2 == 0 else (True, False)):
                    if traced:
                        tracer.install(spark, getattr(wl, "queries", None))
                    try:
                        w, e, o = run_passes(
                            wl, spark, tracer, 1, f"{'traced' if traced else 'timed'}{i}-"
                        )
                    finally:
                        if traced:
                            tracer.uninstall()
                    (t_walls if traced else walls).extend(w)
                    errors += e
                    outs += o

        attempted = failed = 0
        problems: list[str] = []
        for errs, out in zip(errors, outs):
            try:
                found = wl.check(out)
            except Exception as exc:  # noqa: BLE001 - missing/unreadable outputs fail the check
                found = [[f"{type(exc).__name__}: {exc}"]] * len(errs)
            for err, probs in zip(errs, found):
                attempted += 1
                if err is not None:
                    failed += 1
                    print(f"failed: {err}", file=sys.stderr)
                elif probs:
                    failed += 1
                    problems += probs
            shutil.rmtree(out, ignore_errors=True)
        for p in problems:
            print(f"check: {p}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    prov["loadavg_after"] = _loadavg()
    # CPU time of the whole machine during the run, this run's included:
    # runs of one workload that differ much here shared the machine
    cpu = {k: v - cpu0[k] for k, v in _cpu_times().items()}
    prov.update(machine_cpu_s=round(cpu["busy"], 1), steal_s=round(cpu["steal"], 1))
    prov.update(workload=args.workload, seed=args.seed, timed_passes=n,
                pass_walls_s=[round(w, 4) for w in walls])
    print("provenance " + json.dumps(prov))
    if args.trace:
        per = [tracing.pass_metrics(pt, workloads.SUITE_QUERIES) for pt in tracer.passes]
        values = {k: statistics.median(p[k] for p in per) for k in per[0]}
        values["session.start_s"] = session_start_s
        values["trace.untraced_wall_s"] = statistics.median(walls)
        values["trace.overhead_s"] = statistics.median(t_walls) - statistics.median(walls)
        result_metrics = {
            k: {"value": values[k], "unit": u}
            for k, u in tracing.per_layer_units(workloads.SUITE_QUERIES).items()
        }
        # the spans and attributed counters of every traced pass
        with open(os.path.join(base, f"trace-{args.workload}.json"), "w", encoding="utf-8") as fd:
            json.dump([dataclasses.asdict(pt) for pt in tracer.passes], fd)
    else:
        values = {
            "setup_s": setup_s,
            # the fastest timed pass: the least disturbed by other load on
            # the machine, which slows whole passes by up to a third
            "wall_s": min(walls),
            "rows_per_s": wl.input_rows / min(walls),
        }
        result_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
