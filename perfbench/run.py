"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` (cached per seed under ``.perfbench/``), starts one local
Spark session through the program's own ``session.get_spark``, warms
up, then repeats the workload's two timed phases until ``--seconds``
have passed, checking every output against its DuckDB oracle.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics (spans, Spark event-log counters,
library counters) with ``--trace 1``. A readable summary and the host
anchor come on the lines before it; the full record of the run is
written to ``.perfbench/results/``.

Every file the run writes, Spark's and the JVM's temp files included,
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "prefect_flow_arc_kg_postgres_etl_spark"

# Driver heap: session.py defaults to 16g, more than a 15 GiB host has.
# The inputs need far less, and a heap the JVM fills keeps the peak
# resident set steady from run to run (at 3g it varied by a fifth).
DRIVER_MEMORY = "2g"
# The whole heap committed up front and a fixed young generation: with
# G1 sizing both as it goes, how much of the heap a run touched -- its
# peak resident set -- varied by a sixth (IQR over median) between
# seeds of corpus_ingest, and by a fortieth with these.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn256m"
# Two task slots: every phase is driver-bound (under a tenth of four
# slots busy), and leaving the other cores to the driver, JIT and GC
# threads made runs on a 4-core host about a tenth cheaper.
CORES = 2

E2E_UNITS = {
    "setup_s": "s",
    "empty_state_s": "s",
    "standing_state_s": "s",
    "peak_rss_mb": "MB",
    "store_mb": "MB",
}
SPARK_KEYS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.slot_busy_frac", "spark.driver_gap_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb",
]
# Per-layer metrics, reported once per timed phase (``<phase>.<key>``);
# a layer a workload does not run reads 0.
PHASE_LAYER_KEYS = [
    "pivot.build_s", "docs.build_s", "docs.plan_nodes", "docs.exchanges",
    "docs.scans", "delete.s", "delete.rebuilt_entities",
    "merge.upsert_calls", "merge.upsert_build_s",
    "store.commit_s", "store.write_s", "store.snapshot_read_s",
    "store.read_s", "store.bytes_written", "store.tables_written",
    "es_bulk.write_s", "es_bulk.mb",
    "sparql.parse_s", "sparql.build_s", "sparql.plan_s", "sparql.exec_s",
    "sparql.py4j_calls", "sparql.plan_nodes", "sparql.exchanges", "sparql.scans",
    "dedup.pairs_s", "dedup.pairs_out", "ingest.jobs_per_batch",
    *SPARK_KEYS,
    "materialize.calls", "materialize.s", "py4j.calls",
    "self.flows_s", "self.reference_pipeline_s", "self.merge_s",
    "self.store_s", "self.es_bulk_s", "self.sparql_s", "self.dedup_s",
]
RUN_LAYER_KEYS = [
    "session.start_s", "inputs.build_s",
    "host.load_start", "host.load_end", "host.probe_s",
]


def host_probe() -> float:
    """Sustained fixed work (one to three seconds on the 4-core host the
    sizes were tuned on): its wall time tells a slow or contended host
    from a quiet one."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(8_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def configure_env(work: str, tmp: str, trace: bool) -> None:
    """Point every temp dir of Python, Spark and the JVMs into the
    checkout and set the driver heap, before pyspark starts its JVM."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--driver-java-options '{JVM_OPTIONS}'"]
        + [f"--conf {k}={v}" for k, v in conf.items()]
        + ["pyspark-shell"]
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def measure(wl, tracer, args) -> tuple[int, int, dict, dict]:
    """Run the workload's phases, in order, at least once and until
    ``args.seconds`` have passed; a traced run does them once, so every
    per-layer figure is of the same iteration. Returns (attempted,
    failed, per-phase samples, per-phase (start, end) windows)."""
    attempted = failed = 0
    samples: dict[str, list[dict]] = {p: [] for p in wl.phases}
    windows: dict[str, list[tuple[float, float]]] = {p: [] for p in wl.phases}
    t_measure = time.time()
    while not samples[wl.phases[0]] or (
        not args.trace and time.time() - t_measure < args.seconds
    ):
        wl.before_iteration()
        for phase in wl.phases:
            tracer.phase = phase
            tracer.active = bool(args.trace)
            m0 = len(tracer.materialize.get(phase, []))
            p0 = tracer.py4j_calls
            t0 = time.time()
            with tracer.span(phase, "phase"):
                a, f, extra = wl.run_phase(phase)
            t1 = time.time()
            tracer.active = False
            tracer.phase = "checks"
            extra["py4j.calls"] = tracer.py4j_calls - p0
            # The tracer's hooks measure inside the phase; take them out.
            hook_s, hook_py4j = tracer.hook_cost(phase)
            extra["wall"] -= hook_s
            extra["py4j.calls"] -= hook_py4j
            mats = tracer.materialize.get(phase, [])[m0:]
            extra["materialize.calls"] = len(mats)
            extra["materialize.s"] = sum(mats)
            attempted += a
            failed += f
            samples[phase].append(extra)
            windows[phase].append((t0, t1))
    return attempted, failed, samples, windows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", help="input size: bench or smoke")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.size not in inputs.SIZES:
        print(f"perfbench: unknown size {args.size!r}", file=sys.stderr)
        return 2

    bench = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, os.path.join(work, "tmp"), bool(args.trace))
    load_start = os.getloadavg()[0]
    probe_s = host_probe()

    # Inputs are generated (first run of a seed) outside setup_s.
    t_gen = time.time()
    in_dir, meta = inputs.materialize(
        os.path.join(bench, "inputs"), args.workload, args.size, args.seed
    )
    inputs_build_s = time.time() - t_gen

    from pyspark.sql.classic.dataframe import DataFrame

    from prefect_flow_arc_kg_postgres_etl_spark.session import get_spark

    t_session = time.time()
    spark = get_spark("perfbench", min(CORES, os.cpu_count() or CORES))
    try:
        spark.range(1).count()
        session_start_s = time.time() - t_session
        cores = spark.sparkContext.defaultParallelism
        tracer = tracing.Tracer(spark)
        wl = workloads.WORKLOADS[args.workload](spark, tracer, in_dir, work)
        if args.trace:
            tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
            tracer.count_materialize(DataFrame)
            wl.install_spans(tracer)

        wl.setup()
        setup_s = time.time() - T_START - inputs_build_s - probe_s

        attempted, failed, samples, windows = measure(wl, tracer, args)
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid())
        store_mb = wl.store_bytes() / (1 << 20)
    finally:
        stop_spark(spark)
    load_end = os.getloadavg()[0]

    def median(phase: str, key: str) -> float:
        return statistics.median(s.get(key, 0) for s in samples[phase])

    e2e = {
        "setup_s": setup_s,
        "empty_state_s": median("empty", "wall"),
        "standing_state_s": median("standing", "wall"),
        "peak_rss_mb": peak_rss_mb,
        "store_mb": store_mb,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "inputs": meta, "cores": cores,
        "host": {"load_start": load_start, "load_end": load_end, "probe_s": probe_s},
        "e2e": e2e, "samples": samples,
        "attempted": attempted, "failed": failed,
    }
    if args.trace:
        layer = layer_metrics(tracer, wl.phases, samples, windows, work, cores)
        layer.update(zip(RUN_LAYER_KEYS, (
            session_start_s, inputs_build_s, load_start, load_end, probe_s,
        )))
        record["layers"] = layer
        record["trace_overhead_s"] = trace_overhead(samples, bench, args)
        record["spans"] = tracer.dump()
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    results = os.path.join(bench, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-{args.size}-{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    n = {p: len(samples[p]) for p in wl.phases}
    for phase in wl.phases:
        walls = sorted(s["wall"] for s in samples[phase])
        print(f"{args.workload} {phase}_state_s median={statistics.median(walls):.3f} "
              f"max={walls[-1]:.3f} n={n[phase]}")
    print("end-to-end: " + " ".join(
        f"{k}={v:.4g}{E2E_UNITS[k]}" for k, v in e2e.items()
    ) + f" error_rate={failed / max(attempted, 1):.4g}")
    print(f"host: loadavg {load_start:.2f} -> {load_end:.2f}, probe {probe_s:.3f}s, "
          f"inputs {meta['rows']} ({meta['bytes'] / (1 << 20):.1f} MB), "
          f"inputs_build_s={inputs_build_s:.2f}")
    if args.trace:
        over = record["trace_overhead_s"]
        print("tracing overhead: " + (" ".join(
            f"{p}={v:.3f}s" for p, v in over.items()
        ) if over else "no untraced run of this seed to compare with"))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def layer_unit(key: str) -> str:
    if key.endswith("_s") or key.endswith(".s"):
        return "s"
    if key.endswith("_mb") or key.endswith(".mb"):
        return "MB"
    if key.endswith("_frac"):
        return "share"
    if key.startswith("host.load"):
        return "load"
    if key.endswith("bytes_written"):
        return "B"
    return "count"


def trace_overhead(samples, bench, args) -> dict:
    """Traced minus untraced wall time per phase, against the untraced
    run of the same seed in this checkout; empty when there is none."""
    path = os.path.join(
        bench, "results", f"{args.workload}-{args.size}-{args.seed}-trace0.json"
    )
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        untraced = json.load(f)["samples"]
    return {p: samples[p][0]["wall"] - untraced[p][0]["wall"] for p in samples}


def layer_metrics(tracer, phases, samples, windows, work, cores) -> dict:
    """Per-layer metrics of each phase of the traced run's one
    iteration, prefixed with the phase name."""
    import tracing

    log = tracing.read_event_log(os.path.join(work, "events"))
    out = {}
    for phase in phases:
        s = samples[phase][0]
        selfs = tracer.self_time_by_layer(phase)
        vals = {
            "pivot.build_s": tracer.sum_span(phase, "pivot_view_tables"),
            "docs.build_s": tracer.sum_span(phase, "build_reference_index_documents"),
            "delete.s": tracer.sum_span(phase, "reference_delete_flow"),
            "delete.rebuilt_entities": tracer.sum_span(phase, "delete_scope", "rebuilt_entities"),
            "merge.upsert_calls": tracer.count_span(phase, "upsert"),
            "merge.upsert_build_s": tracer.sum_span(phase, "upsert"),
            "store.commit_s": tracer.sum_span(phase, "commit_tables"),
            "store.write_s": tracer.sum_span(phase, "write_table"),
            "store.snapshot_read_s": tracer.sum_span(phase, "read_snapshot"),
            "es_bulk.write_s": tracer.sum_span(phase, "write_bulk_ndjson"),
            "store.read_s": tracer.sum_span(phase, "read_table"),
            "sparql.parse_s": tracer.sum_span(phase, "parse"),
            "dedup.pairs_s": tracer.sum_span(phase, "incremental_dup_pairs"),
            "dedup.pairs_out": tracer.sum_span(phase, "incremental_dup_pairs", "pairs_out"),
            **tracing.spark_phase_metrics(
                log, phase, windows[phase][0], tracer.hook_cost(phase)[0], cores
            ),
        }
        for k in ("plan_nodes", "exchanges", "scans"):
            vals[f"docs.{k}"] = tracer.sum_span(phase, "build_reference_index_documents", k)
        if "batches" in s:
            vals["ingest.jobs_per_batch"] = vals["spark.jobs"] / s["batches"]
        for lay in ("flows", "reference_pipeline", "merge", "store", "es_bulk", "sparql", "dedup"):
            vals[f"self.{lay}_s"] = selfs.get(lay, 0.0)
        for k in PHASE_LAYER_KEYS:
            v = vals[k] if k in vals else s.get(k, 0)
            out[f"{phase}.{k}"] = v
    # lowering alone: a query's build time minus its parse
    for phase in phases:
        out[f"{phase}.sparql.build_s"] = max(
            0.0, out[f"{phase}.sparql.build_s"] - out[f"{phase}.sparql.parse_s"]
        )
    return out


if __name__ == "__main__":
    sys.exit(main())
