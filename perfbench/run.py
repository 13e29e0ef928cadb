#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload extract_textual_resume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run builds its inputs from ``--seed``,
sets up several times (setup_s is the median), measures passes for at
least ``--seconds``, checks every output and prints, as its last stdout
line, {"correct", "attempted", "failed", "metrics"}. ``--trace 0`` gives
the end-to-end metrics; ``--trace 1`` repeats the measured phase with the
Spark event log on and the serial sampled trace, and gives the per-layer
metrics. See perfbench/README.md for definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"  # scratch inputs, oracle cache, trace dumps
SETUP_REPS = 3
MIN_PASSES = 2  # the first is reported as cold_s, the rest as warm_s

WORKLOADS = ("extract_textual_resume", "analytics_sf01")

END_TO_END = {"docs_per_s": "docs/s", "cold_s": "s", "warm_s": "s", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    from analytics import LEAVES

    units = {
        "pdfio.parser.open_ms_per_doc": "ms", "pdfio.parser.load_page_self_ms": "ms",
        "pdfio.codec.decode_ms": "ms", "kernels.ms": "ms", "extract.media_ref_ms": "ms",
        "pdfio.png.encode_ms": "ms", "pdfio.png.bytes_out": "B/page",
        "extract.extract_page.self_ms": "ms", "extract.spans_per_page": "count",
        "spark.job.udf.busy_s": "s", "spark.job.udf.tasks": "count",
        "spark.job.udf.max_task_share": "ratio", "spark.job.udf.gc_ms": "ms",
        "spark.job.spans.busy_s": "s", "spark.job.spans.tasks": "count",
        "spark.job.spans.max_task_share": "ratio", "spark.job.spans.shuffle_bytes": "B",
        "sink.media.busy_s": "s", "sink.media.shuffle_bytes": "B", "sink.media.bytes": "B",
        "sink.spans.bytes": "B", "sink.lineage.busy_s": "s", "sink.lineage.bytes": "B",
        "sink.lineage.docs_missing": "count", "sink.metrics.busy_s": "s",
        "spark.job.records.persist_bytes": "B", "spark.stages.spill_bytes": "B",
        "resume.anti_join_busy_s": "s", "resume.docs_skipped": "count",
        "resume.media_refs_skipped": "count",
        "sink_bytes_per_input_byte": "ratio", "failed_frac": "ratio",
        "spark.python.task_overhead_ms": "ms", "peak_rss_mb": "MB",
        "trace.overhead_s": "s", "trace.serial_overhead_s": "s",
    }
    for leaf in LEAVES:
        units.update({f"ops.{leaf}.cold_s": "s", f"ops.{leaf}.warm_s": "s",
                      f"ops.{leaf}.max_task_share": "ratio",
                      f"ops.{leaf}.shuffle_bytes": "B",
                      f"ops.{leaf}.cache_held_mb": "MB"})
    return units


def python_task_overhead_ms(spark, reps: int = 3) -> float:
    """Per-task cost of a Python worker (fork + import, worker reuse off):
    a trivial mapInPandas over K partitions against the same plan without
    Python, as wall-time difference x cores / K; median of ``reps``."""

    cores = spark.sparkContext.defaultParallelism
    k = 4 * cores
    base = spark.range(0, k, numPartitions=k)
    py = base.mapInPandas(lambda it: it, schema=base.schema)
    diffs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        base.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        py.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        diffs.append(((t2 - t1) - (t1 - t0)) * cores / k * 1000.0)
    return statistics.median(diffs)


class Phases(dict):
    """Wall seconds of each phase of a run, for the result record."""

    def __init__(self) -> None:
        super().__init__()
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = self.get(name, 0.0) + now - self._t
        self._t = now


def timed_setup(session, warm_up, restore=None, event_log: bool = False) -> float:
    t0 = time.perf_counter()
    spark = session.start(event_log=event_log)
    warm_up(spark)
    if restore is not None:
        restore()
    return time.perf_counter() - t0


# -- extraction ---------------------------------------------------------------
def run_extraction_workload(args, session, work: Path, ph: Phases) -> tuple[dict, dict]:
    import eventlog
    from extraction import Extraction, pass_layers
    from host import PeakRss
    from serial_trace import Tracer

    wl = Extraction(args.workload, args.seed, work, STATE, ROOT)
    with ThreadPoolExecutor(max_workers=1) as pool:  # inputs while the JVM starts
        inputs = pool.submit(wl.prepare, session.cores)
        spark = session.start()
        inputs.result()
    ph.mark("session_launch+inputs")
    if wl.add_committed(spark, session.cores):
        # the snapshot build warmed this JVM; relaunch it, so the cold pass
        # starts from the same state in every run
        session.close()
        session.start()
    ph.mark("snapshot")

    def measure(spark, tag: str, min_passes: int = MIN_PASSES):
        """Passes for at least --seconds, each into a restored out_dir;
        the peak RSS of each pass is sampled on its own."""
        passes, failed, exact = [], 0, {}
        t_end = time.perf_counter() + args.seconds
        out = None
        while len(passes) < min_passes or time.perf_counter() < t_end:
            out = wl.restore() if passes else wl.work / "out"
            spark.sparkContext.setLocalProperty("perfbench.pass", f"{tag}{len(passes)}")
            with PeakRss(session.jvm_pid()) as rss:
                res = wl.run_pass(spark, out)
            res["peak_rss_mb"] = rss.peak_mb
            spark.sparkContext.setLocalProperty("perfbench.pass", None)
            f, exact = wl.check_pass(out, res)
            failed += f
            passes.append(res)
        return passes, failed, exact, out

    setups = [timed_setup(session, wl.warm_up, wl.restore) for _ in range(SETUP_REPS)]
    ph.mark("setup")
    passes, failed, exact, out = measure(session.spark, "p")
    ph.mark("measure")
    failed += wl.sample_mismatches(out, wl.expected)
    attempted = len(wl.doc_ids) * len(passes) + len(wl.sample_ids)
    walls = [p["wall_s"] for p in passes]
    docs = len(wl.todo)
    e2e = {
        "docs_per_s": docs / statistics.median(walls[1:]),
        "cold_s": walls[0],
        "warm_s": statistics.median(walls[1:]),
        "setup_s": statistics.median(setups),
    }
    detail = {"setup_reps_s": setups, "pass_walls_s": walls, "docs_per_pass": docs,
              "pass_peak_rss_mb": [p["peak_rss_mb"] for p in passes],
              "sample_docs": wl.sample_ids, "run_metrics": passes[-1]["metrics"]}
    layers = {"peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes)}
    if args.trace:
        layers["spark.python.task_overhead_ms"] = python_task_overhead_ms(session.spark)
        timed_setup(session, wl.warm_up, wl.restore, event_log=True)
        # the traced phase runs in a JVM that is no longer cold, so every
        # traced pass is a warm one
        t_passes, t_failed, _, t_out = measure(session.spark, "t", min_passes=1)
        failed += t_failed
        attempted += len(wl.doc_ids) * len(t_passes)
        session.start()  # ends the traced application: its event log is complete
        log = eventlog.parse(eventlog.single_log(session.event_dir), "perfbench.pass")
        per_pass = [pass_layers(log, f"t{i}") for i in range(len(t_passes))]
        layers.update({k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]})
        _, _, serial_s = wl.serial_spans()  # untraced, on an idle session
        tracer = Tracer()
        t_spans, t_pages, t_serial = wl.serial_spans(tracer=tracer)
        failed += wl.sample_mismatches(t_out, t_spans)
        layers.update(tracer.metrics(len(wl.sample_ids), t_pages))
        tracer.dump(STATE / f"trace-{args.workload}-{args.seed}.json")
        layers["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in t_passes)
                                      - statistics.median(walls[1:]))
        layers["trace.serial_overhead_s"] = t_serial - serial_s
        sink = {s: statistics.median(p["sink_bytes"][s] for p in t_passes)
                for s in ("media", "spans", "lineage", "metrics")}
        in_bytes = sum(wl.pdf_len[d] for d in wl.todo)
        layers.update({
            "sink.media.bytes": sink["media"], "sink.spans.bytes": sink["spans"],
            "sink.lineage.bytes": sink["lineage"],
            "sink_bytes_per_input_byte": sum(sink.values()) / in_bytes,
        })
        layers.update(exact)
    layers["failed_frac"] = failed / attempted
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed}, detail


# -- analytics ----------------------------------------------------------------
def run_analytics_workload(args, session, work: Path, ph: Phases) -> tuple[dict, dict]:
    import analytics
    import eventlog
    from host import PeakRss
    from pdf_toolkit_spark.ops import all_oracles

    sf_dir = STATE / "analytics-data"
    if not (sf_dir / "orders.parquet").exists():
        analytics.make_tables(sf_dir)
    oracle = analytics.Oracle(sf_dir, STATE / "oracle-cache")
    sqls = all_oracles()
    answers = {name: oracle.answer(sqls[name]) for name in analytics.LEAVES}
    ph.mark("inputs")

    def warm_up(spark):
        spark.read.parquet(str(sf_dir / "documents.parquet")).count()

    def measure(spark, trace: bool):
        analytics.release_all()
        with PeakRss(session.jvm_pid()) as rss_cold:
            cold = analytics.run_pass(spark, sf_dir, "cold", trace)
        with PeakRss(session.jvm_pid()) as rss_warm:
            warm = analytics.run_pass(spark, sf_dir, "warm", trace)
        cold["peak_rss_mb"], warm["peak_rss_mb"] = rss_cold.peak_mb, rss_warm.peak_mb
        bad = (analytics.failed_leaves(cold["results"], answers)
               + analytics.failed_leaves(warm["results"], answers))
        for name in bad:
            print(f"[perfbench] leaf mismatch: {name}")
        analytics.release_all()
        return cold, warm, len(bad)

    session.start()
    ph.mark("session_launch")
    setups = [timed_setup(session, warm_up) for _ in range(SETUP_REPS)]
    ph.mark("setup")
    cold, warm, failed = measure(session.spark, trace=False)
    ph.mark("measure")
    attempted = 2 * len(analytics.LEAVES)
    e2e = {
        "docs_per_s": analytics.N_DOCS / warm["wall_s"],
        "cold_s": cold["wall_s"],
        "warm_s": warm["wall_s"],
        "setup_s": statistics.median(setups),
    }
    detail = {"setup_reps_s": setups, "cold_leaf_s": cold["leaf_s"],
              "pass_peak_rss_mb": [cold["peak_rss_mb"], warm["peak_rss_mb"]],
              "warm_leaf_s": warm["leaf_s"]}
    layers = {"peak_rss_mb": statistics.median([cold["peak_rss_mb"], warm["peak_rss_mb"]])}
    if args.trace:
        layers["spark.python.task_overhead_ms"] = python_task_overhead_ms(session.spark)
        timed_setup(session, warm_up, event_log=True)
        t_cold, t_warm, t_failed = measure(session.spark, trace=True)
        failed += t_failed
        attempted += 2 * len(analytics.LEAVES)
        session.start()
        log = eventlog.parse(eventlog.single_log(session.event_dir), "perfbench.leaf")
        for leaf in analytics.LEAVES:
            st = eventlog.summarize(log.select(**{"perfbench.phase": "cold",
                                                  "perfbench.leaf": leaf}))
            layers.update({
                f"ops.{leaf}.cold_s": cold["leaf_s"][leaf],
                f"ops.{leaf}.warm_s": warm["leaf_s"][leaf],
                f"ops.{leaf}.max_task_share": st["max_task_share"],
                f"ops.{leaf}.shuffle_bytes": st["shuffle_bytes"],
                f"ops.{leaf}.cache_held_mb": t_cold["held_mb"][leaf],
            })
        # warm passes only: the traced cold pass runs in a JVM that has
        # already compiled every leaf once, the untraced one did not
        layers["trace.overhead_s"] = t_warm["wall_s"] - warm["wall_s"]
    layers["failed_frac"] = failed / attempted
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed}, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is reaped and the
    # scratch directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "pdf_toolkit_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdf_toolkit_spark package under {ROOT}", file=sys.stderr)
        return 2

    import host

    work = STATE / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    host.prepare_env(ROOT, work)
    ph = Phases()
    calibration = host.calibrate()
    ph.mark("calibration")
    session = host.Session(work, cores=len(os.sched_getaffinity(0)))
    try:
        if args.workload == "analytics_sf01":
            out, detail = run_analytics_workload(args, session, work, ph)
        else:
            out, detail = run_extraction_workload(args, session, work, ph)
        ph.mark("trace" if args.trace else "checks")
        detail["spark_conf"] = session.effective_conf() if session.spark else {}
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    ph.mark("teardown")
    detail["phase_s"] = dict(ph)

    units = per_layer_units() if args.trace else END_TO_END
    values = out["layers"] if args.trace else out["e2e"]
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "calibration": calibration, **detail}
    STATE.mkdir(exist_ok=True)
    (STATE / f"result-{args.workload}-{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**record, "metrics": metrics}, indent=1, default=str))
    print(json.dumps({"perfbench": record}, default=str))
    correct = out["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
