"""Point-in-time feature benchmark: run one workload, print its metrics.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates the workload's seeded
inputs (``perfbench/gen.py``), starts one local Spark session with one
task slot per core, sets up (session start, input cache fill and one
untimed warm-up job), runs jobs
back to back for ``--seconds`` and checks every job's output. Earlier
lines print each metric by name with its unit; the last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (see ``perfbench/README.md``).

Everything the run writes stays under ``.perfbench/`` at the repository
root: inputs (cached per seed), Spark scratch space, the temporary
catalog and the traced run's span file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import types

from spans import RssSampler, Tracer, layer_units


def _process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"

END_TO_END = {
    "rows_per_s": "rows/s",
    "job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# per-layer metrics of the workloads BENCHMARK.json lists; a workload can
# add its own (DailyCuration.layer_units)
PER_LAYER = {
    **layer_units(["synth", "windows", "encode", "pipeline", "asof"]),
    "encode.scan_s": "s",
    "encode.arrow_crossing_s": "s",
    "embed.column_s": "s",
    "kernels.remainder_s": "s",
    "embed.us_per_row": "us/row",
    "kernels.bomp_us_per_row": "us/row",
    "kernels.fista_us_per_row": "us/row",
    "kernels.fista_gflop_per_s": "GFLOP/s",
    "encode.nnz_per_row": "nnz/row",
    "windows.rows_out_per_row_in": "ratio",
    "asof.probe_tasks": "count",
    "asof.match_rate": "ratio",
    "session.start_s": "s",
    "trace.job_untraced_s": "s",
    "trace.job_traced_s": "s",
    "trace.overhead_s": "s",
    "trace.isolation_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (the smoke test uses 0.05)")
    p.add_argument("--corrupt", action="store_true",
                   help="deliberately corrupt outputs (smoke test of the checks)")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Spark's Python workers must import the library from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_session(ctx):
    from lyssandra_spark.session import get_spark

    return get_spark("perfbench", cores=ctx.cores, extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work_dir, "spark-warehouse"),
        # a fixed-size heap (-Xms = -Xmx) keeps GC sizing, and with it job
        # times and resident memory, from drifting between runs
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']} "
            "-XX:-UsePerfData",
    })


def _inputs(wl, ctx, scale: float) -> dict:
    import gen

    sizes = {k: max(int(v * scale), 20) for k, v in wl.sizes.items()}
    key = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    ctx.input_dir = os.path.join(ROOT, ".perfbench", "inputs", key, f"seed{ctx.seed}")
    rec_path = os.path.join(ctx.input_dir, "inputs.json")
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            return json.load(f)
    tmp = ctx.input_dir + f".tmp{os.getpid()}"
    rec = gen.generate(tmp, ctx.seed, sizes)
    os.replace(tmp, ctx.input_dir)
    return rec


def _run_jobs(wl, spark, ctx, seconds, sampler, tracer=None) -> list:
    """Closed loop: jobs back to back until ``seconds`` have passed. Each
    entry is ``(seconds, rows, digest-or-None)``. With a ``tracer``, even
    jobs run untraced and odd ones traced (at least one of each), so the
    tracing overhead is not confounded with the JVM still warming up."""
    out = []
    min_jobs = 2 if tracer else 1
    t_end = time.perf_counter() + seconds
    while True:
        t = time.perf_counter()
        try:
            with sampler.sampling():
                if tracer is None or len(out) % 2 == 0:
                    rows, digest = wl.job(spark, ctx)
                else:
                    rows, digest = wl.traced_job(spark, ctx, tracer)
        except Exception as e:  # noqa: BLE001 - a failed job is a counted outcome
            print(f"job failed: {type(e).__name__}: {e}", file=sys.stderr)
            rows, digest = 0, None
        out.append((time.perf_counter() - t, rows, digest))
        if digest is None or (time.perf_counter() >= t_end and len(out) >= min_jobs):
            return out


def _shutdown(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the driver JVM exits when the stdin pipe PySpark holds open closes
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _environment(work)
    # importing the workloads imports the library: without it the run
    # stops here, before printing any result
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    ctx = types.SimpleNamespace(
        seed=args.seed, work_dir=work, corrupt=args.corrupt,
        cores=len(os.sched_getaffinity(0)), input_dir=None)
    t = time.time()
    inputs = _inputs(wl, ctx, args.scale)
    inputs_s = time.time() - t

    sampler = RssSampler()
    spark = None
    try:
        t0 = time.time()
        spark = _start_session(ctx)
        session_s = time.time() - t0
        wl.fill(spark, ctx)
        wl.warmup(spark, ctx)
        # set-up counts from process start, less the input generation
        setup_s = time.time() - T_START - inputs_s

        tracer = None
        if args.trace:
            tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
            jobs = _run_jobs(wl, spark, ctx, args.seconds, sampler, tracer)
            with tracer.span("isolation") as iso:
                layer = wl.trace(spark, ctx, tracer)
        else:
            jobs = _run_jobs(wl, spark, ctx, args.seconds, sampler)
        try:
            refs, fails = wl.check(spark, ctx)
            if isinstance(refs, dict):
                refs = [refs] * len(jobs)
            keys = [(r["rows"], r["hash"]) for r in refs]
            keys += [None] * (len(jobs) - len(keys))
        except Exception as e:  # noqa: BLE001 - a failed check is a counted outcome
            traceback.print_exc()
            keys, fails = [None] * len(jobs), [f"check raised {type(e).__name__}: {e}"]
        prefix = getattr(wl, "prefix_digest", None)
        if prefix is not None and (prefix["rows"], prefix["hash"]) != keys[-1]:
            fails.append("traced prefix plan no longer matches the workload output")
    finally:
        sampler.close()
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for (_, _, d), key in zip(jobs, keys)
                 if fails or d is None or (d["rows"], d["hash"]) != key)
    for msg in fails:
        print(f"check failed: {msg}", file=sys.stderr)

    times = [s for s, _, _ in jobs]
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{tracer.run_id}.jsonl"))
        u = statistics.median(times[0::2])
        tr = statistics.median(times[1::2])
        units = {**PER_LAYER, **getattr(wl, "layer_units", {})}
        values = dict.fromkeys(units, 0.0)
        values.update(layer)
        values.update({
            "session.start_s": session_s,
            "trace.job_untraced_s": u,
            "trace.job_traced_s": tr,
            "trace.overhead_s": tr - u,
            "trace.isolation_s": iso["end"] - iso["start"],
        })
        if hasattr(wl, "bytes_per_row"):
            values["catalog.bytes_per_row"] = wl.bytes_per_row
    else:
        # medians over the timed jobs: the first jobs after warm-up still
        # run a little slower while the JVM finishes compiling hot paths
        values = {
            "rows_per_s": statistics.median(r / s for s, r, _ in jobs),
            "job_s": statistics.median(times),
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(sampler.peaks_kb) / 1024,
        }
        units = END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}

    info = {
        "workload": args.workload, "inputs": inputs, "inputs_s": inputs_s,
        "jobs": len(jobs), "job_times_s": times, "setup_s": setup_s,
        "failed_frac": failed / len(jobs),
    }
    if hasattr(wl, "maint_s"):
        info["maintenance_s"] = wl.maint_s
        info["catalog_bytes_per_row"] = wl.bytes_per_row
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"failed_frac {info['failed_frac']:.6g} 1")
    if "maintenance_s" in info:
        print(f"maintenance_s {info['maintenance_s']:.6g} s")
        print(f"catalog_bytes_per_row {info['catalog_bytes_per_row']:.6g} B/row")
    print("info " + json.dumps(info))
    print(json.dumps({"correct": not fails and failed == 0,
                      "attempted": len(jobs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
