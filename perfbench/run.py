#!/usr/bin/env python3
"""Benchmark runner: one workload, one fresh process, one closed-loop client.

    python3 perfbench/run.py --workload ingest_publish --seed 1 --seconds 20 --trace 0

Builds a ``local[nproc]`` session through the engine's ``get_spark``,
generates the workload's inputs from ``--seed`` (cached under
``perfbench/.cache``), warms up, then runs operations back to back until
their timed wall time adds up to ``--seconds`` (``query_mix`` finishes its
current pass over the query mix). Each operation's output is checked
after its timing ends.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
ones (see ``END_TO_END``); with ``--trace 1`` they are the per-layer ones
(``PER_LAYER``), and the spans are written to
``perfbench/out/trace-<workload>-s<seed>.json``. The line before it is a
``{"diagnostics": ...}`` record: host steal seconds, load average, nproc,
sample counts, each operation's wall time and the workload's input sizes.

Scratch files (Spark local dirs, temp files, the rotated sink and the
published store) live under ``perfbench/.work/<workload>-<pid>`` and are
removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name → unit; every end-to-end metric is printed by every workload
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "latency_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
}

# name → unit; a traced run of any workload prints all of them (0 where
# the workload does not reach the layer)
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.execute_s": "s",
    "avro_io.encode_rows_per_s": "1/s",
    "avro_io.decode_rows_per_s": "1/s",
    "rotation.write_rotated_s": "s",
    "rotation.files_written": "count",
    "rotation.prune_rotated_s": "s",
    "rotation.read_range_s": "s",
    "rotation.windows_kept_ratio": "ratio",
    "blocks_etl.publish_s": "s",
    "blocks_etl.rows_out": "count",
    "manifest.commit_append_s": "s",
    "manifest.read_segments_s": "s",
    "manifest.segments": "count",
    "stored_bytes_per_input_byte": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.python_boot_s": "s",
    "spark.python_init_s": "s",
    "spark.python_total_s": "s",
    "spark.python_bytes_sent": "bytes",
    "dedup.candidate_pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "dedup.planted_recall": "ratio",
    "dedup.clusters_s": "s",
    "dedup.cc_jobs": "count",
    "dedup.keep_s": "s",
    "multimodal.extract_features_s": "s",
    "jpeg.decode_per_s": "1/s",
    "trace.attributed_ratio": "ratio",
    "trace.overhead_s": "s",
    "failed_ratio": "ratio",
}

# rates measured on driver-side spans that count "rows": metric → span
_RATES = {
    "avro_io.encode_rows_per_s": "avro_io.write_ocf",
    "avro_io.decode_rows_per_s": "avro_io.read_ocf",
    "jpeg.decode_per_s": "jpeg.decode_jpeg",
}
_JOB_COUNTS = {"plans.build_jobs": "plans.build", "dedup.cc_jobs": "dedup.clusters"}
_SAFETY_S = 150.0  # stop starting operations past this much wall time
# The JVM heap, fixed here so that no caller's environment changes it
# (the engine's own default is 8g).
HEAP = "2g"


def _environment(work: str, trace: bool) -> None:
    """Confine every scratch file to ``work`` and size the session."""
    from procfs import nproc

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    # A fixed, pre-touched heap: otherwise the JVM's resident size grows
    # with every page the allocator first touches, and peak RSS would
    # measure how far into the heap a run happened to allocate.
    # C1 only (TieredStopAtLevel=1): in a JVM that lives for one short run
    # the C2 compiler never settles -- on a 4-core host per-query latency
    # kept falling ~25% from one pass to the next, C2 compile threads took
    # ~40% of the CPU per operation, and runs of one workload spread ~20%;
    # with C1 only they agree within a few percent. JVM-side work is
    # therefore measured slower than a long-lived JVM would run it.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
        " -XX:TieredStopAtLevel=1"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    # the short-lived JVM that spark-submit runs to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _descendants() -> list[int]:
    from procfs import children

    out, stack = [], children(os.getpid())
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children(p))
    return out


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait until
    every process this run started has ended."""
    from pyspark import SparkContext

    kids = _descendants()
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _live_heap(spark) -> int:
    """Bytes of JVM heap in use right after a full collection: what the
    run retains, which the pre-touched heap hides from RSS."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(tracer, wl, ctx, records, spark) -> tuple[dict, dict]:
    """Per-layer metrics (medians over traced operations) and each layer's
    median self time per operation."""
    tracer.finish(spark)
    selfs = tracer.self_times()
    by_id = {s.id: s for s in tracer.spans}

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    ops = sorted(r["i"] for r in records if r["traced"])
    in_op = {i: [] for i in ops}  # spans under the operation's root span
    any_op = {i: [] for i in ops}  # also the check and codec spans
    for s in tracer.spans:
        if s.op in any_op:
            any_op[s.op].append(s)
            if root(s).name == "op":
                in_op[s.op].append(s)

    def per_op(fn, spans=in_op):
        return _median([fn(spans[i]) for i in ops])

    def total(ss, name, get):
        return sum(get(s) for s in ss if s.name == name)

    units = PER_LAYER
    out = {k: 0.0 for k in units}
    names = {s.name for s in tracer.spans}
    for m in units:
        if m.endswith("_s") and m[:-2] in names:
            out[m] = per_op(lambda ss, n=m[:-2]: total(ss, n, lambda s: s.dur))
    for m, span in _JOB_COUNTS.items():
        if m in units:
            out[m] = per_op(lambda ss, n=span: total(ss, n, lambda s: s.spark.get("jobs", 0)))
    for m, span in _RATES.items():
        if m in units:
            out[m] = _median([s.counts.get("rows", 0) / s.dur for s in tracer.spans
                              if s.name == span and s.dur > 0])
    for c in {c for s in tracer.spans for c in s.counts if c in units}:
        out[c] = per_op(lambda ss, c=c: sum(s.counts.get(c, 0) for s in ss), any_op)
    for key in ("jobs", "tasks", "input_bytes", "shuffle_write_bytes", "executor_cpu_s",
                "python_boot_s", "python_init_s", "python_total_s", "python_bytes_sent"):
        out[f"spark.{key}"] = per_op(lambda ss, k=key: sum(s.spark.get(k, 0) for s in ss))
    out["session.get_spark_s"] = next(
        (s.dur for s in tracer.spans if s.name == "session.get_spark"), 0.0
    )
    roots = [s for s in tracer.spans if s.name == "op" and s.dur > 0]
    out["trace.attributed_ratio"] = _median([1.0 - selfs[s.id] / s.dur for s in roots])
    traced = [r["wall"] for r in records if r["traced"]]
    untraced = [r["wall"] for r in records if not r["traced"]]
    if traced and untraced:
        out["trace.overhead_s"] = _median(traced) - _median(untraced)
    out["failed_ratio"] = sum(not r["ok"] for r in records) / max(1, len(records))
    out.update(wl.layer_counts(ctx))
    layer_self = {
        n: per_op(lambda ss, n=n: sum(selfs[s.id] for s in ss if s.name == n))
        for n in sorted({s.name for ss in in_op.values() for s in ss})
    }
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}, layer_self


def _measure(wl, ctx, tracer, seconds: float) -> tuple[list[dict], int]:
    """The closed loop: operations back to back until their timed wall
    time adds up to ``seconds`` (finishing the current pass), each timed,
    then checked, then followed by a full JVM collection that reads the
    live heap. Untimed work does not count towards ``seconds``, so the
    number of operations does not depend on how long checking takes.
    Returns one record per operation and the peak RSS. In a traced run,
    whole passes alternate between traced and untraced, and at least two
    passes run so that both kinds are measured."""
    import procfs

    records = []
    pass_len = wl.pass_len
    measured = 0.0
    _live_heap(ctx.spark)  # every operation starts after a full collection
    with procfs.PeakRss() as rss:
        i = 0
        while i == 0 or (
            (measured < seconds or i % pass_len or (ctx.trace and i < 2 * pass_len))
            and time.perf_counter() - T_START < _SAFETY_S
        ):
            wl.before(ctx, i)
            traced = ctx.trace and (i // pass_len) % 2 == 0
            tracer.enabled = traced
            tracer.set_op(i)
            cpu0 = procfs.subtree()[0]
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    items = wl.op(ctx, i)
                ok = True
            except Exception:
                traceback.print_exc()
                items, ok = 0, False
            wall = time.perf_counter() - t0
            cpu = procfs.subtree()[0] - cpu0
            measured += wall
            try:
                with tracer.span("check"):
                    ok = wl.check(ctx, i) and ok
                if traced:
                    wl.traced_extras(ctx, i)
            except Exception:
                traceback.print_exc()
                ok = False
            tracer.enabled = False
            tracer.set_op(None)
            records.append({"i": i, "wall": wall, "cpu": cpu, "items": items,
                            "ok": ok, "traced": traced, "heap": _live_heap(ctx.spark)})
            i += 1
    return records, rss.peak


def _run(args, work: str) -> tuple[dict, dict]:
    """Set up, measure, and return ``(result, diagnostics)``."""
    cache = os.path.join(HERE, ".cache")
    os.makedirs(cache, exist_ok=True)
    _environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    import procfs
    from spans import Tracer

    import workloads
    from blockchaintoavro_spark.plans import load_all
    from blockchaintoavro_spark.session import get_spark

    host0 = procfs.host()
    tracer = Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](args.tiny)
    load_all()  # registry import (part of set-up)
    ctx = workloads.Ctx(
        None, tracer, args.seed, cache, work, procfs.nproc(), bool(args.trace),
        args.expect_wrong,
    )
    t_gen = time.perf_counter()
    wl.prepare(ctx)
    gen_s = time.perf_counter() - t_gen
    spark = None
    try:
        t_session = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(f"perfbench-{args.workload}")
        tracer.attach(spark)
        ctx.spark = spark
        t_warm = time.perf_counter()
        with tracer.span("setup.warm_up"):
            wl.warm_up(ctx)
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T_START - gen_s
        records, peak_rss = _measure(wl, ctx, tracer, args.seconds)
        host1 = procfs.host()
        walls = [r["wall"] for r in records]
        n = len(records)
        if args.trace:
            metrics, layer_self = _layer_metrics(tracer, wl, ctx, records, spark)
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tracer.dump(
                os.path.join(HERE, "out", f"trace-{args.workload}-s{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "records": records,
                 "layer_self_s": layer_self},
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "items_per_s": sum(r["items"] for r in records) / sum(walls),
                "latency_p50_s": statistics.median(walls),
                "cpu_s": statistics.median(r["cpu"] for r in records),
                "peak_rss_mb": peak_rss / 1e6,
                "heap_live_mb": statistics.median(r["heap"] for r in records) / 1e6,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    finally:
        if spark is not None:
            _stop_spark(spark)
    failed = sum(not r["ok"] for r in records)
    diag = {
        "workload": args.workload, "seed": args.seed, "sizes": wl.sizes(),
        "item": wl.item, "samples": n, "failed_ratio": failed / n, "input_gen_s": gen_s,
        "get_spark_s": t_warm - t_session, "warm_up_s": warm_s,
        "op_walls": [round(w, 3) for w in walls],
        "op_cpu_s": [round(r["cpu"], 3) for r in records],
        "op_heap_live_mb": [round(r["heap"] / 1e6, 1) for r in records],
        "host_steal_s": host1["steal_s"] - host0["steal_s"],
        "load1": host1["load1"], "nproc": host1["nproc"],
    }
    result = {"correct": failed == 0, "attempted": n, "failed": failed, "metrics": metrics}
    return result, diag


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_publish", "query_mix", "dedup_decode"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    ap.add_argument(
        "--expect-wrong", action="store_true",
        help="corrupt every expected output (proves the checks can fail)",
    )
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        result, diag = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
