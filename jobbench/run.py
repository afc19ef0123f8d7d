"""Job-level benchmark of docling_jobkit_spark.

    python3 jobbench/run.py --workload extract_crawl --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout, in one process on local[nproc] with
shuffle partitions = nproc. Inputs and oracle digests are generated from
the seed before anything is timed. Set-up (session start plus one
warm-up pass) is done SETUPS times and reported as the median. Then,
untraced (``--trace 0``), the workload's untimed prelude runs (for
extract_crawl: crash + resume + no-op rerun, a full job's worth of
warm-up), and the workload's job runs in a closed loop — each sample
issued when the previous one completes — until ``--seconds`` have passed
and at least MIN_SAMPLES samples are in; every end-to-end metric of
BENCHMARK.json is the median over samples. A fixed sample count keeps
the median at the same point of JIT warm-up in every run. Traced
(``--trace 1``), the run walks every layer in isolation under spans
instead (traced.py) and reports the per-layer metrics; the spans go to
``.bench_out/spans-<workload>-seed<n>.json``.

The last stdout line is the result object; the line before it is a
report with the workload's other end-to-end figures, per-sample values,
failed_frac and host noise. Exit code 1 when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

SETUPS = 3
MIN_SAMPLES = 2
T0 = time.perf_counter()


def _prepare_env(root: str, work: str) -> None:
    """Keep every file the run writes (Spark local dirs, JVM and Python
    temp files, warehouse) inside the checkout, and let Python workers
    import the package from it."""
    if not os.path.isdir(os.path.join(root, "docling_jobkit_spark")):
        raise SystemExit(f"jobbench: no docling_jobkit_spark package under {root}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)


def _start_session(work: str, cores: int):
    from docling_jobkit_spark.session import get_spark

    return get_spark(
        "jobbench",
        cores=cores,
        shuffle_partitions=cores,
        driver_memory="1g",
        extra={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )


def _shutdown(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"jobbench: unknown workload {args.workload!r}")
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(root, work)

    from harness import HostNoise, RssSampler, Tracer, percentile, tail_percentile
    from workloads import CORES, WORKLOADS

    wl = WORKLOADS[args.workload]()
    spark = None
    phases = {"start_to_prepare_s": time.perf_counter() - T0}
    try:
        t0 = time.perf_counter()
        inp = wl.prepare(args.seed, work)
        phases["prepare_s"] = time.perf_counter() - t0
        starts, warmups = [], []
        # the traced run sets up once: its per-layer numbers do not use
        # the set-up median, and its run budget is the tightest
        for k in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _start_session(work, CORES)
            t1 = time.perf_counter()
            wl.warmup(spark, inp, work, k)
            starts.append(t1 - t0)
            warmups.append(time.perf_counter() - t1)
        setup_s = statistics.median(a + b for a, b in zip(starts, warmups))
        phases["setups_s"] = [a + b for a, b in zip(starts, warmups)]
        t0 = time.perf_counter()

        with RssSampler() as rss, HostNoise() as noise:
            if args.trace:
                from traced import traced_run

                tracer = Tracer(spark, f"{args.workload}-seed{args.seed}")
                figures, checks = traced_run(spark, tracer, args.workload, inp, args.seed, work)
                figures["session.start_s"] = statistics.median(starts)
                figures["session.warmup_s"] = statistics.median(warmups)
                attempted, failed = checks.attempted, len(checks.failed)
                info = {"failed_checks": checks.failed}
                wanted = spec["per_layer"]
            else:
                # untimed; for extract_crawl it is also the measured job's
                # full-size warm-up
                pre = wl.prelude(spark, inp, work)
                iters = []
                t_start = time.perf_counter()
                while len(iters) < MIN_SAMPLES or time.perf_counter() - t_start < args.seconds:
                    iters.append(wl.iterate(spark, inp, work, len(iters)))
                measured_s = time.perf_counter() - t_start
                figures = {
                    k: statistics.median(it.metrics[k] for it in iters)
                    for k in iters[0].metrics
                }
                tail = tail_percentile(len(iters))
                if tail is not None:
                    figures.update(
                        (f"{k}.p{tail:g}", percentile([it.metrics[k] for it in iters], tail))
                        for k in iters[0].metrics
                    )
                figures["setup_s"] = setup_s
                info = {
                    "samples": len(iters),
                    "measured_s": measured_s,
                    **{
                        f"{k}_samples": [round(it.metrics[k], 3) for it in iters]
                        for k in ("docs_per_s", "cpu_s_per_kdoc")
                    },
                    "iterations": [it.info for it in iters if it.info],
                }
                if pre is not None:
                    iters.append(pre)
                    figures.update(pre.metrics)
                    info["prelude"] = pre.info
                attempted = sum(it.attempted for it in iters)
                failed = sum(it.failed for it in iters)
                wanted = spec["end_to_end"]
        phases["measure_s"] = time.perf_counter() - t0
        figures["peak_rss_mb"] = rss.peak / 2**20
        figures["host.ext_cores"] = noise.ext_cores
        figures["host.steal_cores"] = noise.steal_cores
        figures["host.local_cores"] = CORES
        if args.trace:
            tracer.dump(
                os.path.join(root, ".bench_out", f"spans-{args.workload}-seed{args.seed}.json")
            )
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "failed_frac": failed / attempted,
        **{k: v for k, v in sorted(figures.items())},
        **info,
        **phases,
        "total_s": time.perf_counter() - T0,
    }
    print("jobbench report " + json.dumps(report, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": figures[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
