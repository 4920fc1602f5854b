"""Cold, layer-by-layer benchmark of specialsid_spark.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 40 --trace 0

Each run is one fresh process on ``local[<cpus>]`` with a single driver
thread.  It builds the workload's inputs from the seed, starts the
session and times that as set-up, runs the workload's fixed operations
and checks every output.  A batch workload runs its queries twice in
seed order: the first pass is cold and gives ``batch_s``, the second is
warm and gives ``op_p50_s``.  The stream workload lands its drops once;
both metrics come from the drops.  ``--seconds`` is the measurement
budget: an operation not started within it counts as failed.  The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones (see
tracing.py), and the spans are written to
``.perfbench/spans/<workload>-<seed>.jsonl``.  Lines before the last
start with ``#``: the end-to-end metrics under their per-workload names
with sample counts, and the ones BENCHMARK.json does not gate
(``peak_rss_mb``, ``fail_ratio``, the tail, and for the stream
``ingest_rows_per_s``, ``stored_bytes_per_row`` and ``gate.admit_ratio``).

Derived inputs (the 10x retail copy, the stream's staged rows, DuckDB
oracle fingerprints) are built in ``.perfbench/`` on first use and
reused.  The first two are built before the session starts, the staged
rows in a child process with a JVM of its own, so that no measured JVM
runs their jobs and set-up time leaves them out.  Each
run works in a directory of its own under ``.perfbench/runs/`` (also the
cwd, so ``spark-warehouse`` and checkpoints land there) and removes it
at exit.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("curation_batch", "retail_sql", "stream_ingest")
E2E_UNITS = {"setup_s": "s", "batch_s": "s", "op_p50_s": "s"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def prepare_env(work: str) -> None:
    """Python workers import the package, so the repo goes on their path;
    every temporary file of the run stays in ``work``."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.chdir(work)


def start_session(sf_dir: str, extra_conf: dict[str, str]):
    """Session plus a bench.py-style warmup (parquet scan, broadcast
    join, hash aggregate, window) and one Arrow round trip through a
    Python worker per core, so the first query does not absorb JVM and
    worker start-up."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from specialsid_spark import catalog, session

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    spark = session.get_spark("perfbench", extra_conf={**conf, **extra_conf})
    nat = catalog.load(spark, sf_dir, "nation")
    reg = catalog.load(spark, sf_dir, "region")
    (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("r_name", F.sum("n").over(Window.partitionBy("r_name")).alias("w"))
        .toPandas()
    )
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)


def build_stage(part_path: str, stage: str, buckets: int) -> None:
    """Stage the stream's product rows once per checkout, in a child
    process with a JVM of its own (see stage.py)."""
    if os.path.isdir(stage):
        return
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "stage.py"), part_path, stage, str(buckets)],
        stdout=sys.stderr,  # the last line of standard output is the result
    )
    try:
        rc = child.wait(timeout=600)
    finally:
        if child.poll() is None:
            child.terminate()
            child.wait()
    if rc != 0:
        raise RuntimeError(f"staging the stream's rows failed with exit code {rc}")


def admitted_record() -> dict:
    """Docs each gate admitted, by input set and seed, as first recorded
    in baseline.json: the gates are deterministic, so a later run of a
    recorded seed must admit exactly as many."""
    with open(os.path.join(HERE, "baseline.json")) as fh:
        return json.load(fh).get("admitted_docs", {})


def tail(values: list[float]) -> tuple[int, float] | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None
    k = n - 10  # samples at or below the percentile
    pct = int(100 * k / n)
    return pct, sorted(values)[k - 1]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import specialsid_spark.session  # noqa: F401
        import tools.check_oracle  # noqa: F401
        import tools.make_scaled_data  # noqa: F401
        import tools.streaming_scale_bench  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    import workloads as wl
    from checks import Checker
    from tracing import LAYER_UNITS, NullTracer, Tracer

    sizes = wl.SMOKE if args.smoke else wl.FULL
    sf_dir = os.path.join(wl.fixture_root(), sizes.fixture)
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no fixtures at {sf_dir}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(STATE, "runs", run_id)
    prepare_env(work)
    spark = None
    try:
        # derived inputs are built before the session starts, and their
        # build time is not set-up: only the first run in a checkout pays it
        phases = {"start": time.time()}
        data_dir = os.path.join(STATE, "data")
        os.makedirs(data_dir, exist_ok=True)
        if args.workload == "curation_batch":
            w = wl.BatchWorkload(wl.CURATION_QUERIES, sf_dir, sizes.fixture)
        else:
            scaled = wl.scaled_copy(data_dir, sf_dir, sizes.scale)
            source = os.path.basename(scaled)
            if args.workload == "retail_sql":
                w = wl.BatchWorkload(wl.RETAIL_QUERIES, scaled, source)
            else:
                stage = os.path.join(data_dir, f"stage-{source}-{sizes.buckets}b")
                build_stage(os.path.join(scaled, "part.parquet"), stage, sizes.buckets)
                w = wl.StreamWorkload(source, sizes, os.path.join(work, "stream"))
                w.prepare(args.seed, stage)
        phases["inputs"] = time.time()
        inputs_s = phases["inputs"] - phases["start"]

        tracer = Tracer(run_id) if args.trace else NullTracer()
        tracer.install()
        spark = start_session(sf_dir, tracer.extra_conf(work))
        setup_s = process_age_s() - inputs_s
        t0 = phases["session"] = time.time()
        ops = w.run(spark, args.seed, tracer, t0 + args.seconds)
        t1 = phases["measure"] = time.time()
        from pyspark import SparkContext

        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)

        checker = Checker(os.path.join(STATE, "oracle"))
        is_stream = isinstance(w, wl.StreamWorkload)
        if is_stream:
            expected = admitted_record().get(w.record_key, {}).get(str(args.seed))
            planted_caught = w.check(spark, ops, checker, expected)
        else:
            planted_caught = w.check(spark, ops, checker)
        failed = sum(1 for op in ops if not op.ok)
        phases["check"] = time.time()
        stop_session(spark)
        spark = None
        phases["stop"] = time.time()

        # batch_s sums the first pass (the cold queries, or the drops) and
        # op_p50_s is the median of the last (the warm queries, or the drops)
        first = [op.seconds for op in ops if op.pass_ == ops[0].pass_]
        last = [op.seconds for op in ops if op.pass_ == ops[-1].pass_]
        batch_s = sum(first)
        if args.trace:
            metrics = tracer.layer_metrics(t0, t1)
            metrics["trace.batch_s"] = batch_s
            tracer.write(os.path.join(STATE, "spans", f"{args.workload}-{args.seed}.jsonl"))
            units = LAYER_UNITS
        else:
            metrics = {"setup_s": setup_s, "batch_s": batch_s, "op_p50_s": statistics.median(last)}
            units = E2E_UNITS
            _print_summary(args.workload, w, ops, metrics, first, last, peak_rss_mb, failed)
        if is_stream and w.admitted_docs:
            lsh, simhash = w.admitted_docs
            record = (
                "has no record" if expected is None
                else "matches its record" if list(expected) == w.admitted_docs
                else f"differs from its record {expected}"
            )
            print(
                f"# gate.admit_ratio {lsh / max(w.rows_in, 1):.6f} (admitted: lsh {lsh}, "
                f"simhash {simhash} of {w.rows_in} rows; seed {args.seed} {record})"
            )
        marks = list(phases.items())
        print("# phases: " + ", ".join(
            f"{name} {t - marks[i][1]:.1f} s" for i, (name, t) in enumerate(marks[1:])
        ))
        for op in ops:
            if not op.ok:
                print(f"# FAILED {op.name}: {op.error}")
        if not planted_caught:
            print("# FAILED: a planted wrong result passed the output check")
        result = {
            "correct": failed == 0 and planted_caught,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)


def _print_summary(workload, w, ops, metrics, first, last, peak_rss_mb, failed) -> None:
    """The end-to-end metrics under their per-workload names, with the
    ones not gated in BENCHMARK.json."""
    n = len(ops)
    lines = [
        f"setup_s {metrics['setup_s']:.3f} s",
        f"batch_s {metrics['batch_s']:.3f} s (n={len(first)})",
        f"peak_rss_mb {peak_rss_mb:.1f} MB",
        f"fail_ratio {failed / n:.4f} ({failed} of {n} operations)",
    ]
    kind = "drop" if workload == "stream_ingest" else "query"
    t = tail(last)
    lines += [
        f"{kind}_p50_s {metrics['op_p50_s']:.3f} s (n={len(last)})",
        f"{kind}_tail_s {t[1]:.3f} s (p{t[0]}, n={len(last)})" if t
        else f"{kind}_tail_s n/a (n={len(last)}; needs more than 10 samples)",
    ]
    if workload == "stream_ingest":
        lines += [
            f"ingest_rows_per_s {w.rows_in / metrics['batch_s']:.1f} 1/s ({w.rows_in} rows)",
            f"stored_bytes_per_row {w.stored_bytes() / max(w.rows_in, 1):.1f} B",
        ]
    lines += [f"op {op.name} {op.seconds:.3f} s" for op in ops]
    for line in lines:
        print(f"# {workload}: {line}")


if __name__ == "__main__":
    sys.exit(main())
