"""Crawl benchmark: one command, every metric with its unit, outputs checked.

    python3 perfbench/run.py --workload wide_mock --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository.  Builds its own
``local[N]`` Spark session (N = CPUs this process may run on), generates the
workload's inputs from ``--seed`` while it warms up, then measures exactly
one full crawl (``--seconds`` is accepted as the benchmark interface asks; one
crawl takes longer than the ``run_seconds`` in BENCHMARK.json).  The crawl's
seen set, fetch order and output files are compared with the sequential
oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes one traced
run instead, times each layer's public entry point alone, writes the spans
and counts to ``.perfbench_work/traces/`` and prints the per-layer metrics.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_session(work: str):
    from goscrape_spark.session import get_spark
    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions":
                f"-Xms3g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended.

    ``spark.stop()`` ends the Python workers but leaves the gateway JVM
    running until this process exits; the JVM ends on EOF on its stdin
    (about 0.2 s on a 4-core host), so close that pipe and wait for it."""
    from pyspark import SparkContext
    from spans import tree_pids
    workers = tree_pids(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in workers) and \
            time.monotonic() < deadline:
        time.sleep(0.05)


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, from /proc/stat: the
    time a virtual machine's CPUs were taken by other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import goscrape_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: crawl engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the engine; every temp file stays in
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from spans import RssSampler, Tracer
    from workloads import LAYER_UNITS, WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    tracer = Tracer(f"{args.workload}-seed{args.seed}-trace{args.trace}")
    rss = RssSampler().start()
    spark = wl = out = None
    layer_metrics: dict = {}
    try:
        with tracer.span("setup") as setup_id:
            with tracer.span("setup.session", setup_id):
                spark = build_session(work)
            wl = WORKLOADS[args.workload](spark, args.seed, work)
            wl.setup(tracer, setup_id)
        setup_s = tracer.duration(setup_id)
        # Exactly one measured crawl per process, whatever --seconds says.
        # The first crawl in a JVM is the slow one, so a median
        # over a time window would mix cold and warm crawls and move with
        # the number of crawls that fit, not with the code.
        steal0 = steal_jiffies()
        try:
            if args.trace:
                out, layer_metrics = wl.traced(tracer, None)
            else:
                with tracer.span("run"):
                    out = wl.run()
        except Exception:
            traceback.print_exc()
        steal1 = steal_jiffies()
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        peak_rss_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if out is not None and out.error:
        print(f"perfbench: incorrect: {out.error}", file=sys.stderr)
    ok = out is not None and not out.error
    detail = {"workload": args.workload, "seed": args.seed,
              "elapsed_s": time.perf_counter() - t_start,
              "steal_share": (steal1[0] - steal0[0])
              / max(1, steal1[1] - steal0[1])}
    if out is not None:
        detail.update(wall_s=out.wall_s, urls=out.urls, stage_s=out.stage_s)
    print("perfbench detail " + json.dumps(detail), file=sys.stderr)

    setup_parts = {s["name"]: tracer.duration(s["id"])
                   for s in tracer.spans if s["parent"] == setup_id
                   and s["name"].startswith("setup.")}
    if args.trace:
        metrics = {k: metric(v, LAYER_UNITS[k]) for k, v in layer_metrics.items()}
        for k, v in setup_parts.items():
            metrics[f"{k}_s"] = metric(v, "s")
        metrics["peak_rss_mb"] = metric(peak_rss_mb, "MB")
        tracer.counts.update({k: v["value"] for k, v in metrics.items()})
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        tracer.write(os.path.join(
            traces, f"{args.workload}-seed{args.seed}.json"),
            ("crawl.", "stage.", "storage.", "run"))
    else:
        metrics = {
            "urls_per_s": metric(out.urls / out.wall_s if ok else 0.0, "1/s"),
            "setup_s": metric(setup_s, "s"),
            "ok_ratio": metric(1.0 if ok else 0.0, "ratio"),
            "disk_bytes_per_url": metric(
                out.disk_bytes / out.seen if ok else 0.0, "B"),
        }
    print(json.dumps({"correct": ok, "attempted": 1, "failed": int(not ok),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
