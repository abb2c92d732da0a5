"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

Run from the repository root. It pins the environment (Spark ``local[<cpus>]``
with the engine's own ``SPARK_GRAFT_CPUS`` set to the usable cores, Spark and
workload scratch under ``.perfbench_out/`` in the checkout, console progress
bars off, one BLAS thread per Python worker), makes the seeded inputs, runs
set-up, then repeats the workload's cycle until ``--seconds`` have passed
(at least once), checks every output, and prints a JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
loop with spans and Spark job groups around every engine call and reports
per-layer metrics instead; the spans are written to
``.perfbench_out/spans-<workload>-s<seed>.jsonl``, and when an untraced
result for the same workload and seed is present the tracing overhead is
printed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

from procfs import RssSampler, descendants  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(scratch: str, cpus: int) -> dict[str, str]:
    """Environment and Spark conf shared by every run; returns extra conf."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        # no JVM performance-data file in the system temp directory
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        # a pre-touched fixed-size heap keeps the JVM's resident set from
        # depending on when the collector decides to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job's record so a traced run can read them after the loop
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def storage_of(path: str) -> str:
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def end_to_end(wl, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cycle_cpu_s": (wl.cycle_cpu_s(), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(wl, tracer, cpus: int) -> dict:
    from tracing import layer_metrics

    spans = tracer.spans
    m = layer_metrics(spans, cpus)

    def total(key, pred):
        return sum(r.get(key, 0) for r in spans if pred(r["name"]))

    def ratio(a, b):
        return a / b if b else 0.0

    knn_query = lambda n: n in ("knn.knn", "knn.knn_batch")  # noqa: E731
    index_build = lambda n: n == "knn.build_ann_index"  # noqa: E731
    outer_reads = [
        r for r in spans
        if r["name"] == "catalog.read" and (r["parent"] is None or not spans[r["parent"]]["name"].startswith("catalog."))
    ]
    c = wl.counts
    m.update(
        {
            "knn.candidates_per_result": ratio(total("input_records", knn_query), c.get("knn.results", 0)),
            "knn.recall_at_10": ratio(c.get("knn.recall_hits", 0), c.get("knn.recall_slots", 0)),
            "knn.index_task_s": total("task_s", index_build),
            "retrieval.rows_read_per_result": ratio(
                m["retrieval.input_records"], c.get("retrieval.results", 0)
            ),
            "pip_join.rows_read_per_hit": ratio(m["pip_join.input_records"], c.get("pip_join.hits", 0)),
            "catalog.commits": total("commits", lambda n: n.startswith("catalog.")),
            "catalog.bytes_written": total("bytes_written", lambda n: n.startswith("catalog.")),
            "catalog.files_read_per_read": ratio(sum(r["files_read"] for r in outer_reads), len(outer_reads)),
            "tree.jobs_per_level": ratio(
                _jobs_under(spans, lambda n: n.startswith("tree.")), total("levels", lambda n: n.startswith("tree."))
            ),
            "trace.cycle_s": wl.cycle_s(),
            "trace.cycle_cpu_s": wl.cycle_cpu_s(),
        }
    )
    return {k: (float(v), _unit(k)) for k, v in m.items()}


def _jobs_under(spans, pred) -> int:
    """Jobs of spans matching ``pred`` and of all their descendants."""
    inside: set[int] = set()
    for r in spans:
        p = r["parent"]
        if pred(r["name"]) or (p is not None and p in inside):
            inside.add(r["id"])
    return sum(spans[i].get("jobs", 0) for i in inside)


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf.endswith("share") or leaf.startswith("recall"):
        return "share"
    if "_per_" in leaf:
        return "ratio"
    return "count"


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "raptor_service_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding raptor_service_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(OUT, f"scratch-{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    conf = pin_environment(scratch, cpus)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        from tracing import Tracer
        from workloads import WORKLOADS

        import raptor_service_spark

        if not os.path.abspath(raptor_service_spark.__file__).startswith(ROOT + os.sep):
            raise RuntimeError("engine imported from outside the checkout")
        from raptor_service_spark.session import get_spark

        tracer = Tracer(enabled=bool(args.trace))
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext

        wl = WORKLOADS[args.workload](spark, tracer, scratch, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        t0, cycles = time.perf_counter(), 0
        while cycles == 0 or time.perf_counter() - t0 < args.seconds:
            tracer.cycle = cycles + 1
            wl.cycle(cycles)
            cycles += 1
        tracer.cycle = 0
        sampler.stop.set()
        sampler.join()
        if hasattr(wl, "check"):
            wl.check()
        tracer.harvest()

        if args.trace:
            metrics = per_layer(wl, tracer, cpus)
            tracer.write(os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = end_to_end(wl, setup_s, sampler.peak / 2**20)
        report(args, wl, metrics, scratch, cycles)
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        with open(os.path.join(OUT, f"result-{args.workload}-s{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump({**result, "cycle_s": wl.cycle_s(), "samples_s": wl.samples, "cpu_samples_s": wl.cpu_samples}, f)
    finally:
        sampler.stop.set()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def report(args, wl, metrics, scratch, cycles) -> None:
    """Human-readable lines before the JSON result: inputs, the workload's
    own metrics with sample counts, and tracing overhead when known."""
    print(f"workload {args.workload} seed {args.seed}: {wl.info}")
    print(f"storage {storage_of(scratch)} (no fsync), cycles {cycles}")
    print(f"  cycle_s {wl.cycle_s():.6g} s (wall; n={cycles})")
    for name, (value, unit, n) in wl.report().items():
        print(f"  {name} {value:.6g} {unit} (n={n})")
    print(f"  ops_failed_share {wl.failed / max(wl.attempted, 1):.6g} share (n={wl.attempted})")
    untraced = os.path.join(OUT, f"result-{args.workload}-s{args.seed}-trace0.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        for name, untraced_value in (("cycle_s", base["cycle_s"]), ("cycle_cpu_s", base["metrics"]["cycle_cpu_s"]["value"])):
            d = metrics[f"trace.{name}"][0] - untraced_value
            print(f"  tracing overhead on {name} {d:+.4f} s per cycle ({d / untraced_value:+.1%})")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
