"""End-to-end benchmark of the engine's batch jobs.

    python3 perfbench/run.py --workload icu_mortality --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout (the package is imported from there) and
keeps every file it makes under ``.perfbench_work/`` there, removed at exit.
One run: start a Spark session at ``local[<cores>]``, generate the
workload's inputs from ``--seed``, run the job once cold and then warm for
``--seconds``, check every iteration's artifacts, and print one JSON line:

* ``--trace 0``: the end-to-end metrics (BENCHMARK.json ``end_to_end``);
* ``--trace 1``: the Spark event log is on for the run, and one more
  iteration runs with spans; the per-layer metrics come from the log.

See ``perfbench/README.md`` for the metrics and what should move them.
"""

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("icu_mortality", "llm_guard_curation")
#: committed artifact hashes per seed, one file per workload (``record_hashes.py``)
EXPECTED_DIR = os.path.join(BENCH_DIR, "expected")

#: input sizes: the jobs are overhead-bound at any size the time budget
#: allows (README.md), so these keep one run near a minute on 4 cores
SIZES = {
    "icu_mortality": {"n_subjects": 1000, "visits": (1, 3), "events_per_stay": 35},
    "llm_guard_curation": {"n_docs": 1000},
}
ALL_SPANS = ("sources.scan", "mivdp.cohort", "mivdp.features", "mivdp.features.clean_chart",
             "mivdp.datagen", "llmdata.guard_corpus", "llmdata.curation")
#: stays sampled for the pandas differential of the dense chart grid
DIFF_STAY_MOD = 32


def recorded_hashes(workload: str, seed: int) -> dict[str, str] | None:
    """The committed artifact hashes of ``workload`` for ``seed``, or None
    when that seed was not recorded."""
    path = os.path.join(EXPECTED_DIR, workload + ".json")
    with open(path) as f:
        rec = json.load(f)
    if rec["sizes"] != json.loads(json.dumps(SIZES[workload])):
        raise ValueError(f"{path} was recorded at other input sizes than "
                         f"{SIZES[workload]}: re-record it with record_hashes.py")
    return rec["seeds"].get(str(seed))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session(work: str, trace: bool):
    """The package's session factory at local[<cores>], with every
    scratch path under ``work``."""
    from temporai_mivdp_spark.session import get_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # Python workers: temp files under ``work``, the checkout importable
        # (Spark merges this PYTHONPATH with its own and the inherited one)
        "spark.executorEnv.TMPDIR": os.path.join(work, "tmp"),
        "spark.executorEnv.PYTHONPATH": os.getcwd(),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    # shuffle partitions by get_session's rule of thumb: 2x the cores
    spark = get_session(app_name="perfbench", master=f"local[{_cores()}]",
                        shuffle_partitions=2 * _cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _prepare_env(work: str) -> None:
    """Point every temp path of this process and the JVM at ``work`` and
    make the checkout importable here; ``_session`` does the same for the
    Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    sys.path[:0] = [os.getcwd()]


def _stop_jvm(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to end: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    if proc.poll() is not None:  # already stopped
        return
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    """Inputs, job and checks of one workload."""

    def __init__(self, spark, workload: str, seed: int, work: str):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.in_dir = os.path.join(work, "input")
        self.out_dir = os.path.join(work, "output")

    def generate(self) -> None:
        size = SIZES[self.workload]
        if self.workload == "llm_guard_curation":
            import gen_docs

            self.in_rows, self.in_bytes = gen_docs.generate(self.in_dir, self.seed, size["n_docs"])
            self.inputs = self.in_dir
            return
        import gen_mimic

        inp = gen_mimic.generate(self.spark, self.in_dir, self.seed, size["n_subjects"],
                                 visits=size["visits"], events_per_stay=size["events_per_stay"])
        # the job reads the lake and the ICD map
        self.in_rows = sum(inp.rows.values())
        self.in_bytes = inp.lake_bytes + os.path.getsize(inp.icd_map)
        self.inputs = inp

    def run_job(self, tracer) -> dict:
        import jobs

        shutil.rmtree(self.out_dir, ignore_errors=True)
        fn = getattr(jobs, self.workload)
        return fn(self.spark, self.inputs, self.out_dir, tracer)

    def artifact_hashes(self, art: dict) -> dict[str, str]:
        from checks import artifact_hash

        return {name: artifact_hash(path) for name, path in sorted(art.items())
                if not name.startswith("__")}

    def output_bytes(self, art: dict) -> int:
        from gen_mimic import dir_bytes

        return sum(dir_bytes(p) for n, p in art.items() if not n.startswith("__"))

    def cross_check(self, art: dict) -> bool:
        """Compare with an independent implementation: the catalog's DuckDB
        oracle (llm), or the per-stay pandas densification on every
        ``DIFF_STAY_MOD``-th stay (icu)."""
        import checks
        import pyarrow.parquet as pq

        if self.workload == "llm_guard_curation":
            from temporai_mivdp_spark.queries import ORACLE

            return all(
                checks.same_rows(pq.read_table(art[f"llm/{entry}"]).to_pandas(),
                                 checks.duckdb_oracle(self.inputs, ORACLE[entry]))
                for entry in ("pipeline_guard_corpus", "pipeline_docs_curation"))
        from pyspark.sql import functions as F

        from temporai_mivdp_spark.mivdp.differential import densify_chart_pandas

        bucketed = art["__bucketed_chart"].filter(F.col("stay_id") % DIFF_STAY_MOD == 0)
        want = densify_chart_pandas(bucketed, art["__n_buckets"]).toPandas()
        got = pq.read_table(art["dense/chart"]).to_pandas()
        got = got[got["stay_id"] % DIFF_STAY_MOD == 0]
        return len(got) > 0 and checks.same_rows(got, want)

    def grid_fill(self, art: dict) -> float:
        """Dense cells with ``signal=1`` per dense cell, over every grid."""
        import pyarrow.parquet as pq

        cells = useful = 0
        for name, path in art.items():
            if name.startswith("dense/"):
                signal = pq.read_table(path, columns=["signal"]).column("signal")
                cells += len(signal)
                useful += signal.to_numpy().sum()
        return float(useful / cells) if cells else 0.0


def run(args) -> dict:
    from rss import PeakRss, tree_cpu_s
    from spans import Tracer

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _prepare_env(work)
        import temporai_mivdp_spark.mivdp.api  # noqa: F401
        import temporai_mivdp_spark.queries  # noqa: F401

        spark = _session(work, trace=bool(args.trace))
        setup_s = time.perf_counter() - T_START

        runner = Runner(spark, args.workload, args.seed, work)
        runner.generate()
        with PeakRss() as rss:
            # cold iteration in this JVM: its artifacts are cross-checked
            # against an independent implementation, and every iteration's
            # hashes must equal the ones recorded for this seed (for a seed
            # with none recorded: the cold iteration's)
            t0 = time.perf_counter()
            art = runner.run_job(Tracer())
            first_job_s = time.perf_counter() - t0
            cross_ok = runner.cross_check(art)
            cold = runner.artifact_hashes(art)
            expected = recorded_hashes(args.workload, args.seed)
            if expected is None:
                print(f"seed {args.seed} has no recorded hashes: artifacts are checked "
                      "for repeatability and by the cross-check only", file=sys.stderr)
                expected = cold
            out_bytes = runner.output_bytes(art)
            attempted, failed = 1, 0 if cross_ok and cold == expected else 1

            # warm iterations: start one only while it should end by the
            # deadline (by the last iteration's time), and at least one
            times, cpus, peaks = [], [], []
            deadline = time.perf_counter() + args.seconds
            while not times or time.perf_counter() + times[-1] <= deadline:
                rss.reset()
                attempted += 1
                cpu0 = tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                try:
                    art = runner.run_job(Tracer())
                except Exception as exc:  # noqa: BLE001 - a failed iteration is counted
                    print(f"iteration failed: {exc!r}", file=sys.stderr)
                    failed += 1
                    if time.perf_counter() > deadline:
                        raise
                    continue
                times.append(time.perf_counter() - t0)
                cpus.append(tree_cpu_s(os.getpid()) - cpu0)
                peaks.append(rss.peak_mb)
                if runner.artifact_hashes(art) != expected:
                    failed += 1
            job_s = statistics.median(times)

            if args.trace:
                tracer = Tracer(spark, enabled=True)
                attempted += 1
                t0 = time.perf_counter()
                art = runner.run_job(tracer)
                traced_s = time.perf_counter() - t0
                if runner.artifact_hashes(art) != expected:
                    failed += 1
                fill = runner.grid_fill(art)
        _stop_jvm(spark)

        if args.trace:
            metrics = _per_layer(os.path.join(work, "eventlog"), tracer, fill, traced_s - job_s)
            metrics["first_job_s"] = (first_job_s, "s")
            metrics["job_cpu_s"] = (statistics.median(cpus), "s")
        else:
            metrics = {
                "job_s": (job_s, "s"),
                "setup_s": (setup_s, "s"),
                "rows_per_s": (runner.in_rows / job_s, "1/s"),
                "peak_rss_mb": (max(peaks), "MB"),
                "ok_frac": ((attempted - failed) / attempted, "ratio"),
                "out_bytes_per_in_byte": (out_bytes / runner.in_bytes, "ratio"),
            }
        print(f"{args.workload} seed {args.seed}: input {runner.in_rows} rows / "
              f"{runner.in_bytes} bytes; first_job_s {first_job_s:.3f}; "
              f"{len(times)} warm job_s {[round(t, 3) for t in times]}; "
              f"setup_s {setup_s:.3f}", file=sys.stderr)
        return {"correct": cross_ok and failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        if spark is not None:  # a no-op when the run got as far as stopping it
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _per_layer(log_dir: str, tracer, grid_fill: float, overhead_s: float) -> dict:
    """Every per-layer metric; spans the workload does not run read 0."""
    import spans

    by_group = spans.task_metrics_by_group(spans.read_event_log(log_dir))
    per_span = spans.span_metrics(tracer.spans, by_group, _cores())
    counts = ("jobs", "tasks", "task_failures")
    metrics = {}
    for span in ALL_SPANS:
        vals = per_span.get(span, dict.fromkeys(spans.SPAN_FIELDS, 0.0))
        for k in spans.SPAN_FIELDS:
            unit = "count" if k in counts else "MB" if k.endswith("_mb") else "s"
            metrics[f"{span}.{k}"] = (vals[k], unit)
    metrics["mivdp.datagen.grid_fill"] = (grid_fill, "ratio")
    metrics["tracing_overhead_s"] = (overhead_s, "s")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, BENCH_DIR)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
