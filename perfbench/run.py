"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (perfbench/workloads.py): `query_mix`, a fixed panel of registered
queries, and `etl_write`, chained `run_etl` nights with streaming SCD2
micro-batches between them. Spark runs as local[nproc] through the package's
own `get_spark`; the environment overrides the package reads are removed
first. Each run
  1. generates its inputs from the seed, in a child process (untimed, not
     part of set-up);
  2. sets up: from the call to `get_spark` to the first timed operation,
     which covers session start, staged-artifact builds or the initial full
     load, and the workload's fixed warm-up (`setup_s`);
  3. times a fixed schedule of operations, closed loop with one client:
     max(2, round(S / the workload's pass estimate)) passes, each running
     every kind of operation once. `pass_s` is the sum over kinds of each
     kind's median time;
  4. checks every output against an independent reference (untimed); a
     wrong output fails its operations and the command exits 1;
  5. reports `stored_bytes_per_input_byte`: the bytes the run leaves on
     disk (staged artifacts, warehouse, stream dimension and its log) per
     byte of generated input.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` the run is traced (spans around each layer call, a Py4J
round-trip counter, Spark's per-operator SQL metrics read from the status
store after timing) and the last line carries the per-layer metrics. Every
record, with its host block, goes to `.perfbench/results/` and a traced
run's spans to `.perfbench/traces/`; a traced run prints its overhead
against the untraced record of the same workload. Everything a run writes
stays under `.perfbench/` in the working tree.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "t20_database_etl_pipeline_assignment_spark"
OUT = os.path.join(ROOT, ".perfbench")
MIN_PASSES = 2  # a per-kind median needs more than one sample

END_TO_END = {"setup_s": "s", "pass_s": "s", "stored_bytes_per_input_byte": "ratio"}
# Per-layer metrics of the traced run, each reported on both workloads (0
# where a workload bypasses the layer). Values marked per pass are totals
# over the timed operations divided by the number of timed passes.
PER_LAYER = {
    "session.start_s": "s",             # get_spark
    "setup.warm_s": "s",                # staged builds / full load and warm-up
    "staging.build_s": "s",             # cached_df calls that built, whole run
    "staging.builds": "count",
    "staging.bytes": "bytes",           # artifact cache at the end
    "operators.build_s": "s",           # QUERIES[q](...) calls, per pass
    "operators.py4j_calls": "count",    # Py4J round trips in timed ops, per pass
    "operators.eager_jobs": "count",    # jobs run while building, per pass
    "catalyst.plan_s": "s",             # executedPlan(), per pass
    "catalyst.plan_nodes": "count",     # physical plan nodes executed, per pass
    "catalyst.exchanges": "count",
    "tables.scan_s": "s",               # scan operators, per pass
    "tables.bytes_read": "bytes",
    "tables.rows_read": "count",
    "exec.action_s": "s",               # SQL executions, submit to end, per pass
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_mem_bytes": "bytes",     # largest operator peak in timed ops
    "exec.task_max_over_median": "ratio",  # worst operator task skew
    "exec.python_bytes": "bytes",       # Arrow/Python boundary, both directions
    "pipeline.extract_s": "s",          # run_etl's own stage timers, per pass
    "pipeline.validate_s": "s",
    "pipeline.conform_scd2_s": "s",
    "pipeline.load_facts_s": "s",
    "pipeline.load_events_incremental_s": "s",
    "pipeline.bands_rewritten": "count",
    "pipeline.jobs": "count",
    "pipeline.bytes_written": "bytes",
    "scd2_sink.fold_s": "s",            # the sink's fold calls, per pass
    "scd2_sink.days_collect_s": "s",    # the sink's own phase timers, per pass
    "scd2_sink.log_append_s": "s",
    "scd2_sink.log_compact_s": "s",
    "scd2_sink.fold_phase_s": "s",
    "scd2_sink.reconcile_s": "s",
    "scd2_sink.publish_s": "s",
    "scd2_sink.jobs_per_batch": "count",
    "scd2_sink.bytes_written": "bytes",
    "driver.peak_rss_mb": "MiB",        # driver JVM + Python high-water mark
    "proc.cpu_s": "s",                  # process-tree CPU in timed ops, per pass
    "host.steal_frac": "ratio",         # hypervisor steal over the run
    "host.ref_loop_s": "s",             # reference loop, mean of before/after
}
# layer values that are not divided by the number of passes
_WHOLE_RUN = {"session.start_s", "setup.warm_s", "staging.build_s", "staging.builds",
              "staging.bytes", "exec.peak_mem_bytes", "exec.task_max_over_median",
              "scd2_sink.jobs_per_batch", "driver.peak_rss_mb", "host.steal_frac",
              "host.ref_loop_s"}


def _isolate(work: str) -> None:
    """Point every cache, scratch and temp location of the program and of
    Spark inside this run's work dir, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "T20_INDEX_CACHE": os.path.join(work, "artifacts"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # -XX:-UsePerfData: neither the launcher JVM nor the driver JVM
        # writes an hsperfdata file into the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    for v in ("SPARK_GRAFT_SF_DIR", "T20_UI_ENABLED", "T20_SHUFFLE_PARTITIONS",
              "T20_DRIVER_MEM"):
        os.environ.pop(v, None)
    sys.path[:0] = [ROOT, HERE]


def _stop(spark) -> None:
    """Stop the Spark application and the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_passes(seconds: float, pass_estimate_s: float) -> int:
    """Passes to time: fixed by `--seconds` and the workload's estimate of
    one pass, never by the clock during the run."""
    return max(MIN_PASSES, round(seconds / pass_estimate_s))


def count_failed(ops: list[dict], failed_kinds: dict) -> int:
    """Operations that failed: those that raised or failed their own check,
    and every operation of a kind whose check after timing failed."""
    return sum(1 for o in ops if o.get("error") or o["kind"] in failed_kinds)


def run(args, work: str) -> dict:
    import stats
    import tracing
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    passes = timed_passes(args.seconds, wl.pass_estimate_s)
    ref_before, cpu_before = stats.ref_loop_s(), stats.cpu_times()
    inp = wl.prepare(work, args.seed, passes)
    cache = os.environ["T20_INDEX_CACHE"]

    from t20_database_etl_pipeline_assignment_spark import registry  # noqa: F401
    from t20_database_etl_pipeline_assignment_spark.session import get_spark

    tr = tracing.Tracer() if args.trace else tracing.NoTrace()
    if args.trace:
        tracing.trace_staging(tr)

    # set-up: from the call to get_spark to the first timed operation
    t0 = time.perf_counter()
    with tr.span("get_spark"):
        spark = get_spark(f"perfbench-{wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        with tr.span("setup"):
            wl.setup(spark, inp, tr)
        setup_s = time.perf_counter() - t0
        host = stats.host_block(spark)
        since_ms = time.time() * 1000.0
        cpu0 = stats.tree_cpu_s(os.getpid())

        ops = []
        for op in wl.schedule(inp, passes):
            n_spans = len(getattr(tr, "spans", ()))
            with tr.span("op", kind=op[0]):
                t = time.perf_counter()
                try:
                    res = wl.run_op(spark, inp, op, tr)
                except Exception as e:
                    res = {"error": f"{type(e).__name__}: {e}"[:300]}
                dur = time.perf_counter() - t
            rec = {"kind": op[0], "arg": op[1], "dur_s": dur, **res}
            if args.trace:
                rec["span"] = tr.spans[n_spans]
            if "error" not in rec:
                err = wl.check_op(inp, op, rec)  # untimed
                if err:
                    rec["error"] = err
            ops.append(rec)
        cpu_s = stats.tree_cpu_s(os.getpid()) - cpu0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = (stats.vm_hwm_kb(jvm_pid) + stats.vm_hwm_kb()) / 1024.0

        failed_kinds = wl.check_end(spark, inp, [(o["kind"], o["arg"]) for o in ops])
        executions = tracing.read_executions(spark, since_ms) if args.trace else []
    finally:
        _stop(spark)
    stored = stats.dir_bytes(*wl.stored_roots(inp, cache))
    given = stats.dir_bytes(*wl.input_roots(inp))
    host.update({"steal_frac": stats.steal_share(cpu_before, stats.cpu_times()),
                 "ref_loop_before_s": ref_before, "ref_loop_after_s": stats.ref_loop_s()})

    timings = [(o["kind"], o["dur_s"]) for o in ops]
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "inputs": wl.input_sizes(inp),
        "timed_passes": passes, "attempted": len(ops),
        "failed": count_failed(ops, failed_kinds),
        "failures": {**{f"{o['kind']} #{o['arg']}": o["error"] for o in ops if o.get("error")},
                     **failed_kinds},
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": stats.pass_seconds(timings),
            "stored_bytes_per_input_byte": stored / given,
        },
        "stored_bytes": stored, "input_bytes": given, "session_s": session_s,
        "kind_medians": stats.kind_medians(timings),
        "tail_lines": stats.tail_lines(timings),
        "ops": [[o["kind"], o["dur_s"]] for o in ops],
    }
    if args.trace:
        record["per_layer"] = _layers(wl, inp, tr, ops, executions, passes, cache,
                                      peak_mb, cpu_s, host)
        record["spans"] = tr.spans
    return record


def _layers(wl, inp, tr, ops, executions, passes, cache, peak_mb, cpu_s, host) -> dict:
    import stats
    import tracing

    def ex_in(span: dict) -> list[dict]:
        return [e for e in executions if span["start_ms"] <= e["submit_ms"] <= span["end_ms"]]

    timed_ex = [e for o in ops for e in ex_in(o["span"])]
    staging = tr.named("staging.cached_df")
    built = [s for s in staging if s["attrs"]["built"]]
    layers = {
        "session.start_s": tr.named("get_spark")[0]["dur_s"],
        "setup.warm_s": tr.named("setup")[0]["dur_s"],
        "staging.build_s": sum(s["dur_s"] for s in built),
        "staging.builds": len(built),
        "staging.bytes": stats.dir_bytes(cache),
        "operators.py4j_calls": sum(o["span"]["py4j_calls"] for o in ops),
        **tracing.exec_totals(timed_ex),
        **wl.layer_metrics(inp, ops, tr, ex_in),
        "driver.peak_rss_mb": peak_mb,
        "proc.cpu_s": cpu_s,
        "host.steal_frac": host["steal_frac"],
        "host.ref_loop_s": (host["ref_loop_before_s"] + host["ref_loop_after_s"]) / 2,
    }
    return {k: (layers.get(k, 0) if k in _WHOLE_RUN else layers.get(k, 0) / passes)
            for k in PER_LAYER}


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(OUT, "results", f"{workload}-seed{seed}-trace{trace}.json")


def _overhead(record: dict) -> None:
    """Traced minus untraced end-to-end metrics, against the untraced record
    of the same workload and seed, else the newest untraced one."""
    same = _result_path(record["workload"], record["seed"], 0)
    others = sorted(glob.glob(_result_path(record["workload"], "*", 0)), key=os.path.getmtime)
    path = same if os.path.exists(same) else (others[-1] if others else None)
    if path is None:
        print("tracing overhead: no untraced record of this workload to compare with")
        return
    with open(path) as f:
        base = json.load(f)
    for k in ("setup_s", "pass_s"):
        b, v = base["end_to_end"][k], record["end_to_end"][k]
        print(f"tracing overhead {k} = {v - b:+.6g} s ({(v - b) / b:+.1%}; traced {v:.6g} s, "
              f"untraced {b:.6g} s, seed {base['seed']})")


def _print(record: dict) -> None:
    print(f"host {json.dumps(record['host'], sort_keys=True)}")
    print(f"inputs {json.dumps(record['inputs'], sort_keys=True)}")
    for line in record["tail_lines"]:
        print(line)
    for kind, err in sorted(record["failures"].items()):
        print(f"FAILED {kind}: {err}")
    n, e2e = record["attempted"], record["end_to_end"]
    print(f"operations attempted = {n}, failed = {record['failed']}")
    print(f"metric setup_s = {e2e['setup_s']:.6g} s (n=1; session start "
          f"{record['session_s']:.6g} s)")
    print(f"metric pass_s = {e2e['pass_s']:.6g} s (n={n}: {len(record['kind_medians'])} "
          f"kinds x {record['timed_passes']} passes, sum of per-kind medians)")
    print(f"metric stored_bytes_per_input_byte = {e2e['stored_bytes_per_input_byte']:.6g} "
          f"ratio (n=1; {record['stored_bytes']} B stored / {record['input_bytes']} B input)")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [x for x in (os.path.join(PKG, "__init__.py"), "tests/oracle_harness.py")
               if not os.path.isfile(os.path.join(ROOT, x))]
    if missing:
        print(f"perfbench: not a checkout of the project, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = os.path.join(OUT, "work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    try:
        record = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["wall_s"] = time.perf_counter() - t_start

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    spans = record.pop("spans", None)
    if spans is not None:
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        trace_path = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(spans, f, default=str)
    with open(_result_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(record, f, indent=1, default=str)

    _print(record)
    print(f"run wall {record['wall_s']:.1f} s")
    if args.trace:
        for k, v in record["per_layer"].items():
            print(f"layer {k} = {v:.6g} {PER_LAYER[k]}")
        _overhead(record)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in record["end_to_end"].items()}
    correct = not record["failures"]
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
