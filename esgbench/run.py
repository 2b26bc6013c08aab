"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 esgbench/run.py --workload pdf_inference --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed`` into
a per-run directory under ``.esgbench/`` (deleted at exit), the engine runs
on ``local[nproc]``, outputs are checked outside the timed region, and the
last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones from a separate layer-at-a-time run (spans written to
``.esgbench/spans-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback

END_TO_END = ("setup_s", "ops_per_s", "query_p50_ms", "query_p90_ms", "append_p50_ms",
              "ok_frac", "peak_rss_mb")
UNITS = {"setup_s": "s", "ops_per_s": "op/s", "query_p50_ms": "ms", "query_p90_ms": "ms",
         "append_p50_ms": "ms", "ok_frac": "ratio", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.pyworker_warm_s": "s",
    "files.scan_s": "s", "files.write_s": "s", "files.bytes_written": "B",
    "files.files_written": "count", "files.bytes_per_row": "B/row",
    "extraction.busy_s": "s", "extraction.paragraphs_per_s": "1/s", "extraction.kept_ratio": "ratio",
    "inference.relevance_busy_s": "s", "inference.pairs_scored": "count",
    "inference.relevant_ratio": "ratio", "inference.qa_busy_s": "s", "inference.qa_pairs": "count",
    "relational.topk_busy_s": "s", "relational.dedup_keep_first_busy_s": "s",
    "dedup.signature_busy_s": "s", "dedup.candidate_pairs": "count",
    "dedup.candidate_precision": "ratio", "dedup.planted_recall": "ratio",
    "dedup.cluster_busy_s": "s", "dedup.keep_canonical_busy_s": "s",
    "curation.negative_sample_busy_s": "s", "curation.answer_start_busy_s": "s",
    "reshape.nest_squad_busy_s": "s", "text.clean_busy_s": "s",
    "plans.build_ms_p50": "ms", "plans.exec_ms_p50": "ms", "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "cache.persisted_rdds_after_job": "count",
    "trace.overhead_s": "s",
    # disclosed engine defects, probed apart from the jobs
    "extraction.bare_lf_pages_misread": "count", "files.rfc4180_rows_misread": "count",
}


class Ctx:
    def __init__(self, run_dir: str, seed: int, nproc: int, trace: bool):
        self.run_dir, self.seed, self.nproc, self.trace = run_dir, seed, nproc, trace
        self.warehouse = os.path.join(run_dir, "spark-warehouse")


def _identity(batches):
    yield from batches


def set_up(cpus: int):
    """SparkSession creation, a first job and Python-worker warm-up."""
    from aicoe_osc_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("esgbench", cpus=str(cpus))
    t1 = time.perf_counter()
    spark.range(0, 100_000, numPartitions=cpus).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    spark.range(0, 1, numPartitions=1).mapInPandas(_identity, "id long").collect()
    t3 = time.perf_counter()
    return spark, (t1 - t0, t2 - t1, t3 - t2)


def shut_down(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - any failure to exit: kill and reap
            proc.kill()
            proc.wait()


def attempt(w, i: int, name: str, records: list) -> None:
    """Run op ``i``; an exception marks the op failed instead of ending the run."""
    from esgbench.workloads import OpRecord

    rec = OpRecord(name)
    try:
        w.op(i, rec)
    except Exception as exc:  # noqa: BLE001 - an op failure is counted, not fatal
        rec.error = f"raised {type(exc).__name__}: {str(exc)[:300]}"
        traceback.print_exc(file=sys.stderr)
    records.append(rec)


def run_ops(w, seconds: float, records: list) -> float:
    """Closed loop with one client: each op starts when the previous one
    returned, until ``seconds`` of wall time have passed and at least
    ``MIN_OPS`` ops ran.  The dashboard's readers may run beside it.
    Returns the wall time to the last op's end."""
    stop = threading.Event()
    readers = w.dashboard(stop)
    t_start = time.perf_counter()
    i = w.WARMUP_OPS
    while i < w.WARMUP_OPS + w.MIN_OPS or time.perf_counter() - t_start < seconds:
        attempt(w, i, f"op{i}", records)
        i += 1
    elapsed = time.perf_counter() - t_start
    stop.set()
    for t in readers:
        t.join()
    return elapsed


def measure(args, ctx) -> dict:
    from esgbench.probe import RssSampler, Tracer, median, p90, persisted_rdds
    from esgbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    w.prepare()
    print(f"esgbench: inputs {w.sizes()} generated in {time.perf_counter() - t0:.2f}s",
          file=sys.stderr)

    warmups: list = []
    records: list = []
    with RssSampler() as rss:
        # one cold set-up: each costs about 15 s of a run, and a restart in
        # the warm JVM would leave the JVM launch out of setup_s
        spark, setup = set_up(ctx.nproc)
        w.start(spark)
        layer = None
        if args.trace:
            # the untraced reference, then the same work one layer at a time
            untraced_s = w.untraced(records)
            persisted = persisted_rdds(spark)  # what the engine's own jobs left cached
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            layer = w.traced(tracer)
            layer["trace.overhead_s"] = tracer.busy("job") - untraced_s
            layer["spark"] = tracer.spark_totals()
            layer["persisted"] = persisted
            spans_path = os.path.join(os.path.dirname(ctx.run_dir),
                                      f"spans-{args.workload}-{args.seed}.json")
            tracer.write(spans_path)
            print("esgbench: self time by span (s)", file=sys.stderr)
            job_s = tracer.busy("job")
            in_job = {sp["name"] for sp in tracer.spans if sp["parent"] is not None} | {"job"}
            for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
                share = f"{100 * s / job_s:5.1f}% of job" if name in in_job else ""
                print(f"  {name:40s} {s:9.4f}  {share}", file=sys.stderr)
        else:
            t_warm = time.perf_counter()
            for k in range(w.WARMUP_OPS):
                attempt(w, k, f"warmup{k}", warmups)
            print(f"esgbench: warm-up took {time.perf_counter() - t_warm:.2f}s", file=sys.stderr)
            elapsed = run_ops(w, args.seconds, records)
        t_stop = time.perf_counter()
        shut_down(spark)
        print(f"esgbench: shut-down took {time.perf_counter() - t_stop:.2f}s", file=sys.stderr)
    t_checks = time.perf_counter()

    ops = warmups + records
    w.check([r for r in ops if r.error is None])
    failed_reads = w.check_reads()
    table_errors = w.check_table()
    for e in table_errors + w.read_errors[:5]:
        print(f"esgbench: check failed: {e}", file=sys.stderr)
    attempted = len(ops) + len(w.reads) + (len(w.read_errors) - failed_reads)
    failed = sum(1 for r in ops if r.error is not None) + len(w.read_errors)
    if layer is not None:
        attempted += 1
        if err := layer.pop("error"):
            print(f"esgbench: traced run failed: {err}", file=sys.stderr)
            failed += 1
    for r in ops:
        if r.error:
            print(f"esgbench: {r.name} failed: {r.error}", file=sys.stderr)
    correct = failed == 0 and not table_errors
    print(f"esgbench: checks took {time.perf_counter() - t_checks:.2f}s", file=sys.stderr)

    if layer is not None:
        sp = layer.pop("spark")
        layer |= {
            "session.start_s": setup[0],
            "session.pyworker_warm_s": setup[2],
            "spark.jobs": sp["jobs"], "spark.stages": sp["stages"], "spark.tasks": sp["tasks"],
            "spark.tasks_failed": sp["tasks_failed"],
            "cache.persisted_rdds_after_job": layer.pop("persisted"),
        }
        # a layer the workload does not touch reads 0
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        ok = [r for r in records if r.error is None]
        reads = [lat for _, lat, _, _, _ in w.reads[w.warm_reads:]]
        appends = [a for r in ok for a in r.appends]
        values = {
            "setup_s": sum(setup),
            "ops_per_s": median([r.units / (r.latency_s + sum(r.appends)) for r in ok]),
            "query_p50_ms": 1000 * median(reads),
            "query_p90_ms": 1000 * p90(reads),
            "append_p50_ms": 1000 * median(appends),
            "ok_frac": 1.0 - failed / attempted,
            "peak_rss_mb": rss.peak_mb,
        }
        print(
            f"esgbench: {len(records)} ops in {elapsed:.2f}s (jobs "
            + ", ".join(f"{r.latency_s:.2f}" for r in records)
            + f"s; {len(appends)} appends, p50 {1000 * median(appends):.0f} ms; {len(reads)} reads);"
            + " set-up "
            + "+".join(f"{x:.2f}" for x in setup),
            file=sys.stderr,
        )
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("pdf_inference", "training_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aicoe_osc_demo_spark", "__init__.py")):
        print("esgbench: run from a checkout root (no aicoe_osc_demo_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".esgbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=base)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of the engine inside the run directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a 2 GB heap unless set, committed and touched at launch: a heap grown
    # lazily makes peak memory track collector timing instead of the work
    # (3.5-5.1 GB over three runs of one input with the engine's 8 GB
    # default; 1.8-2.3 GB over ten seeds with a lazy 2 GB heap)
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{heap} -XX:+AlwaysPreTouch' pyspark-shell"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle engine functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    nproc = len(os.sched_getaffinity(0))
    try:
        os.chdir(run_dir)  # the session's default warehouse lands here
        result = measure(args, Ctx(run_dir, args.seed, nproc, bool(args.trace)))
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
