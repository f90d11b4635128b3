"""Pipeline benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload forms_full --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from the seed (or read
from ``.perfbench/cache``), a Spark session starts, the workload's job runs
twice on a small warm-up set, and then repetitions on the full set are timed
for ``--seconds`` (at least ``MIN_TIMED_REPS`` of them). Each repetition
writes to a fresh output directory, cleared outside the timer, and is checked
against the generator's oracle after the timer stops.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the job once
more with spans around each layer's public calls, times each layer alone on
materialized inputs, and prints the per-layer metrics. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the full record of the run
(every repetition, host probes, spans) is written under ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: untimed runs of the job on the warm-up input set before timing, the first
#: of them cold. A fixed count, rather than "until two runs agree", makes
#: every run start its timer from the same point.
WARMUP_REPS = 2

#: timed repetitions an untraced run makes at least, however short
#: ``--seconds`` is; the end-to-end metrics are their medians
MIN_TIMED_REPS = 3

#: (name, unit) of the end-to-end metrics, printed by ``--trace 0``
END_TO_END = (
    ("docs_per_s", "1/s"),
    ("cpu_ms_per_doc", "ms"),
    ("peak_rss_mb", "MiB"),
    ("setup_s", "s"),
)


def _spark_call_metrics(prefix: str) -> list[tuple[str, str]]:
    return [
        (f"{prefix}.cpu_s", "s"),
        (f"{prefix}.gc_s", "s"),
        (f"{prefix}.spill_mb", "MiB"),
        (f"{prefix}.records_in", "count"),
        (f"{prefix}.records_out", "count"),
    ]


#: (name, unit) of the per-layer metrics, printed by ``--trace 1``; a layer a
#: workload does not run reads 0
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("session.warmup_s", "s"),
        ("sources.pdf.parse_us_per_doc", "us"),
        ("sources.pdf.words_table_s", "s"),
        ("sources.pdf.rejected_docs", "count"),
        ("operators.layout.kernel_us_per_page", "us"),
        ("operators.layout.page_repeat_share", "ratio"),
        ("operators.layout.pages", "count"),
        ("operators.layout.spans_table_s", "s"),
        ("operators.layout.order_words_s", "s"),
        ("operators.layout.assemble_spans_s", "s"),
        ("operators.layout.shuffle_write_mb", "MiB"),
        ("operators.layout.python_total_s", "s"),
        ("operators.layout.python_boot_s", "s"),
        ("operators.layout.python_sent_mb", "MiB"),
        ("operators.layout.python_received_mb", "MiB"),
        ("operators.extract.extract_fields_s", "s"),
        ("operators.extract.python_total_s", "s"),
        ("operators.extract.python_sent_mb", "MiB"),
        ("plans.checkpoint.done_buckets_s", "s"),
        ("plans.checkpoint.done_buckets_calls", "count"),
        ("plans.checkpoint.mark_done_s", "s"),
        ("plans.checkpoint.mark_done_calls", "count"),
        ("plans.checkpoint.append_lineage_s", "s"),
        ("plans.checkpoint.append_lineage_calls", "count"),
        ("plans.checkpoint.files", "count"),
        ("plans.pipeline.bucket_scan_s", "s"),
        ("plans.pipeline.write_s", "s"),
        ("plans.pipeline.noop_rerun_s", "s"),
        ("plans.pipeline.persist_mb", "MiB"),
        ("trace.untraced_wall_s", "s"),
        ("trace.traced_wall_s", "s"),
        ("trace.overhead_s", "s"),
        ("trace.layer_spans_s", "s"),
        ("trace.span_sum_share", "ratio"),
        ("failed_share", "ratio"),
    ]
    + [
        m
        for call in (
            "sources.pdf.words_table",
            "operators.layout.spans_table",
            "operators.layout.order_words",
            "operators.layout.assemble_spans",
            "operators.extract.extract_fields",
            "plans.checkpoint.done_buckets",
            "plans.checkpoint.mark_done",
            "plans.checkpoint.append_lineage",
            "plans.pipeline.bucket_scan",
            "plans.pipeline.job",
        )
        for m in _spark_call_metrics(call)
    ]
)


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("forms_full", "grid_resume", "pdf_spans"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed region")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--parallelism", default="nproc/2",
                   help="task threads: a number, or nproc/2 (half the usable CPUs)")
    p.add_argument("--shuffle-partitions", type=int, default=4)
    p.add_argument("--driver-mem", default="1g", help="AUTOEXTRACT_DRIVER_MEM for the session")
    return p.parse_args(argv)


def _parallelism(spec: str) -> int:
    if spec == "nproc/2":
        return max(1, len(os.sched_getaffinity(0)) // 2)
    return int(spec)


def _engine_env(args) -> None:
    """Session settings go through get_spark's arguments and its environment
    variables only; every file the engine writes stays inside the checkout."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["AUTOEXTRACT_DRIVER_MEM"] = args.driver_mem
    os.environ["AUTOEXTRACT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _extra_conf(driver_mem: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata file under /tmp
        # the heap starts at its bound, so the collector does not run more
        # often in the first repetitions than in the later ones
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_mem} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _shutdown(spark, probes) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in probes.tree_pids(me) if p != me]
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if probes.is_running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            return
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "autoextract", "__init__.py")):
        print(f"perfbench: no autoextract package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, probes, workloads
    from perfbench.sparkstats import SparkStats
    from perfbench.tracing import Tracer

    run_id = uuid.uuid4().hex[:12]
    record: dict = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    cache = os.path.join(WORK, "cache")
    data_dir = inputs.cache_path(cache, args.workload, args.seed)
    warm_dir = inputs.cache_path(cache, args.workload, args.seed, inputs.WARM_SIZE)
    if not (os.path.isdir(data_dir) and os.path.isdir(warm_dir)):
        # a separate process, so that this one's memory (part of peak_rss_mb)
        # does not depend on whether the inputs were cached
        subprocess.run([sys.executable, "-m", "perfbench.inputs", cache, args.workload,
                        str(args.seed)], cwd=ROOT, check=True)
    _engine_env(args)
    cores = _parallelism(args.parallelism)
    record["engine"] = {"master": f"local[{cores}]", "shuffle_partitions": args.shuffle_partitions,
                        "driver_mem": args.driver_mem}
    out_root = os.path.join(WORK, "out", run_id)
    me = os.getpid()
    record["host"] = {"spin_mops_before": probes.spin_mops()}
    steal0, total0 = probes.cpu_counters()

    from autoextract.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", parallelism=cores,
                      shuffle_partitions=args.shuffle_partitions, extra_conf=_extra_conf(args.driver_mem))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        start_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, data_dir)
        warm_wl = workloads.WORKLOADS[args.workload](spark, warm_dir)

        # -- warm-up, counted in setup_s
        t1 = time.perf_counter()
        warm = []
        for k in range(WARMUP_REPS):
            out = os.path.join(out_root, f"warm{k}")
            r0 = time.perf_counter()
            warm_wl.rep(out)
            warm.append(time.perf_counter() - r0)
            workloads.clear(out)
        warmup_s = time.perf_counter() - t1
        record["setup"] = {"start_s": start_s, "warmup_s": warmup_s, "warm_reps": warm}

        # -- timed repetitions
        reps, problems = [], []

        def measured_rep() -> float:
            out = os.path.join(out_root, f"rep{len(reps)}")
            workloads.clear(out)
            with probes.RssSampler(me) as rss:
                c0 = probes.tree_cpu_s(me)
                r0 = time.perf_counter()
                info = wl.rep(out)
                wall = time.perf_counter() - r0
                cpu = probes.tree_cpu_s(me) - c0
            bad, probs = wl.check(out, info)
            workloads.clear(out)
            problems.extend(probs)
            reps.append({"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak / 2**20,
                         "rss_at_peak_mb": rss.at_peak, "failed": len(bad)})
            return wall

        # A traced run times one repetition before the traced job and one
        # after it; its end-to-end figures are not reported.
        timed = 0.0
        while not reps or (not args.trace and (timed < args.seconds or len(reps) < MIN_TIMED_REPS)):
            timed += measured_rep()
        n_timed = len(reps)

        if args.trace:
            tr = Tracer(run_id)
            stats = SparkStats(spark)
            with tr.span("run"):
                m, bad, probs = wl.traced(tr, stats, os.path.join(out_root, "trace"))
            problems += probs
            # one more untraced run after the traced one, so that the
            # untraced wall brackets it in time
            measured_rep()
            untraced = statistics.median(r["wall_s"] for r in reps)
            m.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "trace.untraced_wall_s": untraced,
                "trace.overhead_s": m["trace.traced_wall_s"] - untraced,
                "trace.span_sum_share": m["trace.layer_spans_s"] / untraced,
            })
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            tr.dump(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-{run_id}.spans.json"))
            traced_failed = len(bad)
        else:
            traced_failed = 0
            timed_reps = reps[:n_timed]
            metrics = {
                "docs_per_s": statistics.median(wl.n_docs / r["wall_s"] for r in timed_reps),
                "cpu_ms_per_doc": statistics.median(r["cpu_s"] * 1e3 / wl.n_docs for r in timed_reps),
                "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in timed_reps),
                "setup_s": start_s + warmup_s,
            }
            metrics = {name: {"value": metrics[name], "unit": unit} for name, unit in END_TO_END}
    finally:
        _shutdown(spark, probes)
        workloads.clear(out_root)

    steal1, total1 = probes.cpu_counters()
    record["host"].update({
        "spin_mops_after": probes.spin_mops(),
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
    })
    record["reps"] = reps
    record["problems"] = problems
    attempted = wl.n_docs * (len(reps) + args.trace)
    failed = sum(r["failed"] for r in reps) + traced_failed
    if args.trace:
        # per-layer metrics may read 0 (a layer the workload does not run
        # reads 0), so the failed share is one of them
        m["failed_share"] = failed / attempted
        record["per_layer"] = m
        metrics = {name: {"value": float(m.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for p in problems:
        print(f"perfbench: invariant violated: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "samples": n_timed, "warmup_reps": len(warm),
                      "failed_share": failed / attempted,
                      "host": record["host"], "setup": {k: record["setup"][k] for k in ("start_s", "warmup_s")}}))
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
