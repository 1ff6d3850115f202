"""Benchmark of mallarddv_spark: incremental vault loads with reads, and
crawl-shard curation.

    python3 perfbench/run.py --workload vault_incremental --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. The program under test is imported from the
``mallarddv_spark`` package next to this directory; every input is
generated from ``--seed`` into ``perfbench/.work/`` and removed at exit.

Output: a context line (host load, CPU steal, sample counts, failures) and,
last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
layer wrappers and the Spark event log and reports the per-layer metrics
(and writes every span to ``perfbench/.work-results/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: a run measures one whole cycle per this many ``--seconds`` (at least
#: one); a cycle takes 12-24 s on 4 cores. The count depends on nothing
#: else, so a faster program measures the same work, only sooner
CYCLE_SECONDS = 15

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "flow_cpu_s": "s",
    "read_cpu_s": "s",
}

#: per-layer metric -> unit; a layer a workload never enters reports 0
PER_LAYER = {
    "flow.executor.self_s": "s",
    "flow.runinfo.probe_ledger_s": "s",
    "flow.runinfo.write_ledger_s": "s",
    "plans.model.metadata_collects": "count",
    "plans.model.cache_hit_ratio": "ratio",
    "sources.readers.load_staging_s": "s",
    "sources.readers.rows_per_s": "rows/s",
    "operators.hashview.create_s": "s",
    "operators.hub.load_s": "s",
    "operators.hub.insert_ratio": "ratio",
    "operators.link.load_s": "s",
    "operators.link.insert_ratio": "ratio",
    "operators.satellite.load_s": "s",
    "operators.satellite.change_ratio": "ratio",
    "operators.satellite.history_rows": "rows",
    "read.lookup_s": "s",
    "read.scan_s": "s",
    "read.mart_s": "s",
    "read.pit_s": "s",
    "operators.textops.quality_filter_s": "s",
    "operators.dedup.exact_dedup_s": "s",
    "operators.dedup.neardup_against_index_s": "s",
    "operators.dedup.minhash_index_append_s": "s",
    "operators.curation.decontaminate_s": "s",
    "operators.similarity.ivf_probe_topk_s": "s",
    "operators.dedup.neardup_recall": "ratio",
    "operators.dedup.neardup_precision": "ratio",
    "operators.curation.decontam_recall": "ratio",
    "spark.jobs_per_flow": "count",
    "spark.tasks_per_flow": "count",
    "spark.job_gap_s": "s",
    "spark.executor_cpu_util": "ratio",
    "spark.shuffle_write_per_input_byte": "ratio",
    "spark.spill_bytes": "B",
    "storage.bytes_written_per_input_byte": "ratio",
    "storage.files_written_per_flow": "count",
    "storage.dv_files_total": "count",
    "storage.vault_bytes_per_input_byte": "ratio",
    "latency.flow_p50_s": "s",
    "latency.read_p50_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.flow_cpu_s": "s",
    "trace.unattributed_s": "s",
    "trace.attributed_share": "ratio",
}

#: layer metric -> span whose median self time per call it reports
SELF_TIME_SPANS = {
    "flow.executor.self_s": "flow.executor",
    "flow.runinfo.probe_ledger_s": "flow.runinfo.probe_ledger",
    "flow.runinfo.write_ledger_s": "flow.runinfo.write_ledger",
    "sources.readers.load_staging_s": "sources.readers.load_staging",
    "operators.hashview.create_s": "operators.hashview.create",
    "operators.hub.load_s": "operators.hub.load",
    "operators.link.load_s": "operators.link.load",
    "operators.satellite.load_s": "operators.satellite.load",
    "read.lookup_s": "read.lookup",
    "read.scan_s": "read.scan",
    "read.mart_s": "read.mart",
    "read.pit_s": "read.pit",
    "operators.textops.quality_filter_s": "operators.textops.quality_filter",
    "operators.dedup.exact_dedup_s": "operators.dedup.exact_dedup",
    "operators.dedup.neardup_against_index_s": "operators.dedup.neardup_against_index",
    "operators.dedup.minhash_index_append_s": "operators.dedup.minhash_index_append",
    "operators.curation.decontaminate_s": "operators.curation.decontaminate",
    "operators.similarity.ivf_probe_topk_s": "read.ivf_probe",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("vault_incremental", "curation_crawl"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, nproc: int, trace: bool):
    """The session the program's own ``get_spark`` builds on ``nproc``
    cores, with scratch space and (traced runs only) the event log kept
    inside the work directory."""
    from mallarddv_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = {"spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{events}",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", warehouse_dir=os.path.join(work, "wh"),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def p50(spans) -> float:
    return median(s.duration for s in spans) if spans else 0.0


def reads_since(tracer, start: float) -> list:
    return [s for s in tracer.spans if s.name.startswith("read.") and s.start >= start]


def mean_cpu(spans) -> float:
    return sum(s.cpu_s for s in spans) / len(spans) if spans else 0.0


def e2e_metrics(wl, tracer, window: tuple[float, float], window_steal_s: float,
                nproc: int, setup_s: float) -> dict:
    """Set-up wall time; wall time per cycle less the time the average CPU
    was stolen by the hypervisor meanwhile (the first-order delay steal
    adds to a program whose threads run on every CPU; a burst of steal on a
    shared host otherwise doubles a cycle); and the program CPU seconds per
    flow and per read over the measured cycles (a cycle's mix of flows and
    reads is fixed)."""
    window_start, window_end = window
    return {
        "setup_s": setup_s,
        "cycle_s": (window_end - window_start - window_steal_s / nproc) / wl.n_cycles,
        "flow_cpu_s": mean_cpu([f.span for f in wl.measured_flows()]),
        "read_cpu_s": mean_cpu(reads_since(tracer, window_start)),
    }


def layer_metrics(wl, tracer, window: tuple[float, float], nproc: int,
                  events_dir: str, rss_mb: float) -> dict:
    from tracing import attribute_jobs, read_event_log, self_times

    start, end = window
    spans = [s for s in tracer.spans if s.start >= start]
    selfs = self_times(spans)
    out = {k: 0.0 for k in PER_LAYER}
    for metric, name in SELF_TIME_SPANS.items():
        vals = [selfs[s.id] for s in spans if s.name == name]
        if vals:
            out[metric] = median(vals)
    flows = wl.measured_flows()
    staging = sum(s.duration for s in spans if s.name == "sources.readers.load_staging")
    if staging:
        out["sources.readers.rows_per_s"] = sum(f.rows for f in flows) / staging
    calls = tracer.counters.get("plans.model.calls", 0)
    collects = tracer.counters.get("plans.model.collects", 0)
    out["plans.model.metadata_collects"] = collects
    out["plans.model.cache_hit_ratio"] = (calls - collects) / calls if calls else 0.0
    windows = [(f.span.start + tracer.epoch_offset, f.span.end + tracer.epoch_offset)
               for f in flows]
    sp = attribute_jobs(read_event_log(events_dir), windows, nproc)
    out["spark.jobs_per_flow"] = sp["jobs_per_flow"]
    out["spark.tasks_per_flow"] = sp["tasks_per_flow"]
    out["spark.job_gap_s"] = sp["job_gap_s"]
    out["spark.executor_cpu_util"] = sp["executor_cpu_util"]
    out["spark.shuffle_write_per_input_byte"] = (
        sp["shuffle_write_bytes"] / sum(f.in_bytes for f in flows))
    out["spark.spill_bytes"] = sp["spill_bytes"]
    out.update(wl.layer_metrics())
    out["process.peak_rss_mb"] = rss_mb
    out["latency.flow_p50_s"] = p50([f.span for f in flows])
    out["latency.read_p50_s"] = p50(reads_since(tracer, start))
    # the untraced run's flow_cpu_s, measured under tracing: their ratio is
    # the tracing overhead
    out["trace.flow_cpu_s"] = mean_cpu([f.span for f in flows])
    top = sum(s.duration for s in spans if s.parent is None)
    out["trace.unattributed_s"] = (end - start) - top
    out["trace.attributed_share"] = top / (end - start)
    return out


def span_report(tracer, window: tuple[float, float]) -> dict:
    """Per span name: calls, total and self seconds inside the window. The
    self times of all spans plus the unattributed gap sum to the window."""
    from tracing import self_times

    spans = [s for s in tracer.spans if s.start >= window[0]]
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        r = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        r["calls"] += 1
        r["total_s"] += s.duration
        r["self_s"] += selfs[s.id]
    return out


def run(args, work: str) -> tuple[dict, dict]:
    import hostinfo
    import workloads
    from tracing import Tracer, install_layer_wrappers

    host = hostinfo.HostWatch()
    tracer = Tracer(layers=bool(args.trace))
    n_cycles = max(1, int(args.seconds // CYCLE_SECONDS))
    wl = workloads.WORKLOADS[args.workload](None, tracer, work, args.seed, n_cycles)
    wl.prepare()
    t0 = time.perf_counter()
    spark = start_spark(work, host.nproc, tracer.layers)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    tracer.cpu_clock = hostinfo.AppCpuClock(os.getpid(), jvm_pid)
    try:
        wl.spark = spark
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0
        if tracer.layers:
            install_layer_wrappers(tracer)
        start = time.perf_counter()
        steal0 = hostinfo.cpu_steal_s()
        wl.begin_window(start)
        for _ in wl.cycles():
            pass
        end = time.perf_counter()
        window_steal_s = hostinfo.cpu_steal_s() - steal0
        tracer.unwrap_all()
        wl.check()
        rss_mb = hostinfo.driver_peak_rss_mb() + hostinfo.vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)
    window = (start, end)
    if tracer.layers:
        # after the stop: the event log is complete only once the session ends
        metrics = layer_metrics(wl, tracer, window, host.nproc,
                                os.path.join(work, "events"), rss_mb)
        units = PER_LAYER
    else:
        metrics = e2e_metrics(wl, tracer, window, window_steal_s, host.nproc, setup_s)
        units = END_TO_END
    flows = wl.measured_flows()
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host.report(),
        "window_s": round(end - start, 3), "window_steal_s": round(window_steal_s, 3),
        "cycles": n_cycles, "flows": len(flows),
        "reads": len(reads_since(tracer, start)),
        "latency": {"flow_p50_s": p50([f.span for f in flows]),
                    "read_p50_s": p50(reads_since(tracer, start))},
        "peak_rss_mb": rss_mb,
        "failures": wl.failures,
    }
    if tracer.layers:
        context["spans"] = span_report(tracer, window)
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return context, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mallarddv_spark")):
        print("perfbench: no mallarddv_spark package next to the benchmark; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        context, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        out = os.path.join(HERE, ".work-results")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"context": context, "result": result}, fh, indent=1)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
