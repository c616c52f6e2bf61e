"""Medallion benchmark for the metadata-driven engine.

Run one workload (one fresh Python + JVM process, one client thread,
closed loop, a ``local[nproc]`` session):

    python3 perfbench/run.py --workload etl_replay --seed 1 --seconds 5 --trace 0

The last line on stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` runs untraced iterations for at
least ``--seconds`` and reports the end-to-end metrics. ``--trace 1`` runs
one traced iteration instead and reports the per-layer metrics, among them
``trace.overhead_frac`` (the tracer's own time as a share of the traced
iteration) and ``trace.wall_s`` (to compare with an untraced ``wall_s``).
Host facts (cpus, load average and CPU time stolen by the hypervisor
during the run, versions) go to stderr.

Run every workload, each in its own process, and print a table:

    python3 perfbench/run.py --workload all --seed 1 [--trace 1]

Everything the benchmark writes (generated inputs, warehouse, Spark local
dirs, temp files) lives under ``perfbench/_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

GENERATIONS = 3  # set-up repeats input generation and reports the median
HEAP = "1g"  # the JVM heap Spark uses by default


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> float:
    return os.getloadavg()[0]


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _jvm_pid(sc) -> int | None:
    proc = getattr(sc._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _peak_rss_mb(jvm_pid: int | None) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _tree_size(path: str, since: float | None = None) -> tuple[int, int]:
    """(files, bytes) under ``path``; only files modified at or after
    ``since`` when given."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if since is None or st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


def _start_session(work: str, cpus: int):
    from metadata_driven_etl_spark.session import get_spark

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed-size heap keeps peak RSS from depending on when the
            # collector decides to grow it
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One workload in this process: (result, host and run facts)."""
    from perfbench import datagen, scenarios, trace as tracing

    cpus = nproc()
    work = os.path.join(HERE, "_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    info = {"workload": name, "seed": seed, "cpus": cpus, "load_start": _loadavg()}
    steal0 = _steal_s()
    spark = None
    try:
        # -- set-up (untimed work, reported as setup_s) --------------------
        t = time.perf_counter()
        spark = _start_session(work, cpus)
        session_s = time.perf_counter() - t
        info["pyspark"] = spark.version
        info["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        info["python"] = platform.python_version()

        workload = scenarios.WORKLOADS[name]()
        gen_times, inputs = [], None
        for i in range(GENERATIONS):
            t = time.perf_counter()
            generated = datagen.generate(
                os.path.join(work, f"inputs{i}"), seed, workload.scale,
                workload.tables, workload.doc_scale,
            )
            gen_times.append(time.perf_counter() - t)
            if inputs is None:
                inputs = generated
            else:
                shutil.rmtree(generated.root)
        ctx = scenarios.Context(spark, inputs, work, seed)
        t = time.perf_counter()
        workload.prepare(ctx)
        prepare_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_times) + prepare_s

        # -- timed iterations: tracing off, or one traced iteration ---------
        tracer = tracing.Tracer(spark.sparkContext) if trace else None
        iterations = []
        least = 1 if tracer else workload.min_iterations
        t_end = time.perf_counter() + seconds
        while len(iterations) < least or (
            tracer is None and time.perf_counter() < t_end
        ):
            workload.reset(ctx)
            since = time.time()
            if tracer is None:
                iterations.append(workload.iterate(ctx))
                continue
            tracer.install()
            try:
                with tracer.span("iteration"):
                    iterations.append(workload.iterate(ctx, tracer))
            finally:
                tracer.uninstall()
            tracing.attach_jobs(spark.sparkContext, tracer.spans)
        written = {
            db: _tree_size(os.path.join(ctx.warehouse, f"{db}.db"), since)
            for db in scenarios.DATABASES
        }
        stored = _tree_size(ctx.warehouse)[1]

        # -- correctness, outside timing -----------------------------------
        try:
            correct, detail = workload.check(ctx)
        except Exception as e:  # a check that cannot run is a failed check
            correct, detail = False, f"check raised {type(e).__name__}: {e}"
        info["check"] = detail

        ops = [op for it in iterations for op in it.ops]
        failed = sum(1 for op in ops if not op[2])
        if tracer is not None:
            wall = iterations[0].wall_s
            values = metrics.per_layer(
                tracing.layer_metrics(tracer.spans, wall),
                session_s=session_s,
                units=iterations[0].units,
                written=written,
                metadata_store=_tree_size(os.path.join(ctx.warehouse, "metadata.db")),
                trace_wall_s=wall,
                overhead=tracer.own_s / wall,
            )
            result_metrics = metrics.with_units(values, metrics.PER_LAYER)
        else:
            values = metrics.end_to_end(
                iterations,
                setup_s=setup_s,
                peak_rss_mb=_peak_rss_mb(_jvm_pid(spark.sparkContext)),
                input_bytes=inputs.total_bytes,
                stored_bytes=stored,
            )
            result_metrics = metrics.with_units(values, metrics.END_TO_END)
        info.update(
            load_end=_loadavg(),
            steal_s=_steal_s() - steal0,
            iterations=len(iterations),
            session_s=session_s,
            generate_s=gen_times,
            prepare_s=prepare_s,
            ops=[(n, round(s, 4), ok) for it in iterations for n, s, ok in it.ops],
        )
        return {
            "correct": bool(correct),
            "attempted": len(ops),
            "failed": failed,
            "metrics": result_metrics,
        }, info
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def run_all(args) -> int:
    """Each workload in its own process; print every metric with its unit."""
    from perfbench import scenarios

    rc = 0
    for name in scenarios.WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: failed with exit code {proc.returncode}")
            rc = 1
            continue
        res = json.loads(lines[-1])
        print(
            f"{name}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']}"
        )
        for metric, v in res["metrics"].items():
            print(f"  {metric:44s} {v['value']:>16.6g} {v['unit']}")
    return rc


def main(argv=None) -> int:
    from perfbench import scenarios

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*scenarios.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    import metadata_driven_etl_spark

    engine_dir = os.path.dirname(os.path.abspath(metadata_driven_etl_spark.__file__))
    if os.path.dirname(engine_dir) != ROOT:
        raise SystemExit(f"engine imported from {engine_dir}, not from {ROOT}")
    with contextlib.redirect_stdout(sys.stderr):
        result, info = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print("perfbench-info " + json.dumps(info), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
