"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. The benchmark starts one local Spark session
with one core per CPU, writes its seeded inputs, sets up and warms the
workload, runs its ops in a closed loop with one client for ``--seconds``,
checks every op's results, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs half the
time untraced and half traced, and reports the per-layer metrics plus the
tracing overhead between the two halves. ``--smoke`` shrinks every input
for the benchmark's own tests; ``--corrupt`` alters one result row before
the checks, which must then fail the run.

Everything the run writes lives in a private directory under
``.perfbench_work/`` in the current directory, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

from tracing import COUNTERS, LAYERS, Tracer, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "query_qps": "1/s",
    "index_bytes_per_posting": "B",
}

# per-layer times: the median per-op self time of one span, unit from suffix
SPAN_TIMES = {
    "session.start_s": ("session", "start"),
    "documents.build_documents_s": ("documents", "build_documents"),
    "tokenize.term_freqs_s": ("tokenize", "term_freqs"),
    "tokenize.query_term_freqs_ms": ("tokenize", "query_term_freqs"),
    "stats.corpus_stats_s": ("stats", "corpus_stats"),
    "stats.doc_freqs_s": ("stats", "doc_freqs"),
    "bm25.weights_s": ("bm25", "weights"),
    "bm25.quantization_scale_s": ("bm25", "quantization_scale"),
    "index.build.build_index_s": ("index.build", "build_index"),
    "index.build.encode_s": ("index.build", "encode"),
    "streaming.incremental.segment_s": ("streaming.incremental", "segment"),
    "index.merge.merge_indexes_s": ("index.merge", "merge_indexes"),
    "query.wand.prepare_serving_s": ("query.wand", "prepare_serving"),
    "query.wand.retrieve_ms": ("query.wand", "retrieve"),
    "query.wand.collect_ms": ("query.wand", "collect"),
}
# per-layer values from the probes, or derived
OTHER_UNITS = {
    "session.peak_rss_mb": "MB",
    "index.build.sink_s": "s",
    "index.build.files_written": "count",
    "index.build.bytes_written": "B",
    "index.codec.decode_ns_per_posting": "ns",
    "index.codec.blocks": "count",
    "index.codec.compressed_bytes": "B",
    "streaming.incremental.segments": "count",
    "index.merge.bytes_rewritten": "B",
    "query.wand.candidate_postings_per_result": "count",
    "trace.overhead_pct": "%",
}


# Extra driver JVM options per workload. serve runs the JVM's C1 compiler
# only: under the default C2 the driver keeps compiling through the first
# 100+ serve calls (measured on 4 cores: ~40 s of compiler CPU over calls
# 1-60, per-10-call latency medians 760 -> 480 ms and still falling), so a
# timed window that fits a run sits on a slope and moves with the host's
# speed. Under C1 latency is flat from about the 10th call, at the level C2
# reached after ~70 calls (500-560 ms). ingest keeps C2: its one warm-up op
# is long enough, and C1 slowed its build-heavy op by about half.
JVM_OPTS = {"serve": "-XX:TieredStopAtLevel=1", "ingest": ""}


def layer_units() -> dict:
    units = {k: k.rsplit("_", 1)[1] for k in SPAN_TIMES}
    units.update(OTHER_UNITS)
    units.update({f"{layer}.{c}": "count" for layer in LAYERS for c in COUNTERS})
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    p.add_argument("--corrupt", action="store_true",
                   help="alter one result row before the checks")
    return p.parse_args(argv)


def start_session(cores: int, work: str, workload: str):
    from splade_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData {JVM_OPTS[workload]}".rstrip(),
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def measure(wl, tracer, seconds: float, traced: bool, first: int) -> list:
    """Closed loop, one client: run ops until `seconds` have elapsed."""
    tracer.enabled = traced
    tracer.phase = "op"
    ops = []
    end = time.perf_counter() + seconds
    i = first
    while not ops or time.perf_counter() < end:
        tracer.op = i
        ops.append(wl.op(i))
        i += 1
    tracer.op = None
    return ops


def corrupt(ops: list) -> None:
    """Alter one returned row: the first op's first non-empty query gets
    its top score nudged by one ulp."""
    for o in ops:
        for q, rows in o["rows"].items():
            if rows:
                rank, doc, score = rows[0]
                rows[0] = (rank, doc, math.nextafter(score, math.inf))
                return


def run(args, work: str) -> tuple[dict, bool]:
    import workloads as W

    cores = os.cpu_count() or 1
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    t_setup = time.perf_counter()
    with tracer.span("session", "start"):
        spark = start_session(cores, work, args.workload)
    tracer.attach(spark)
    try:
        ctx = W.Ctx(spark, tracer, work, args.seed,
                    W.SIZES["smoke" if args.smoke else "full"][args.workload],
                    cores, args.workload)
        wl = W.WORKLOADS[args.workload](ctx)
        tracer.phase = "warmup"
        wl.warmup()
        setup_s = time.perf_counter() - t_setup

        ticks = cpu_ticks()
        if args.trace:
            half = args.seconds / 2
            plain = measure(wl, tracer, half, False, 0)
            traced = measure(wl, tracer, half, True, len(plain))
            ops = plain + traced
        else:
            ops = measure(wl, tracer, args.seconds, False, 0)
        # CPU time the host gave to other guests while the ops ran: a
        # diagnostic for runs slowed by a noisy neighbour
        d = [b - a for a, b in zip(ticks, cpu_ticks())]
        steal = d[7] / max(sum(d), 1) if len(d) > 7 else 0.0

        if args.trace:
            tracer.phase = "probe"
            layer = probe(wl, ops)
            p50_plain = statistics.median(o["s"] for o in plain)
            p50_traced = statistics.median(o["s"] for o in traced)
            layer["trace.overhead_pct"] = (p50_traced / p50_plain - 1.0) * 100.0
            layer["session.peak_rss_mb"] = peak_rss_mb(_jvm_pid())
        if args.corrupt:
            corrupt(ops)
        tracer.phase = "check"
        failed = wl.check(ops)

        postings, nbytes = W.index_stats(wl.wr.base_idx)
        print(f"perfbench: {args.workload} seed={args.seed} sizes={ctx.sizes} "
              f"index_postings={postings} ops={len(ops)} "
              f"queries_per_op={ops[0]['queries']} cpu_steal={steal:.3f}", file=sys.stderr)
        if args.trace:
            tracer.read_counters()
            metrics = layer_metrics(tracer, layer)
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": statistics.median(o["s"] for o in ops) * 1000.0,
                "query_qps": statistics.median(o["queries"] / o["query_s"] for o in ops),
                "index_bytes_per_posting": nbytes / max(postings, 1),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    finally:
        stop_session(spark)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return result, failed == 0


def _jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def probe(wl, ops: list) -> dict:
    """Traced-run-only measurements taken after the timed ops."""
    import workloads as W

    ctx = wl.ctx
    out = W.probe_codec(ctx, wl.read_index)
    W.probe_encode(ctx, wl.inputs["base"], wl.wr)
    qt, n_rows = wl.probe_queries()
    if n_rows is None:
        n_rows = sum(len(v) for v in ops[0]["rows"].values())
    out["query.wand.candidate_postings_per_result"] = W.candidates_per_result(
        wl.read_index, qt, n_rows)
    files, nbytes = W.files_written(wl.wr.base_idx)
    out["index.build.files_written"] = float(files)
    out["index.build.bytes_written"] = float(nbytes)
    # serve does not append or merge on its timed path
    merged = wl.merged or W.probe_write(ctx, wl.wr, wl.inputs["segs"])
    out["index.merge.bytes_rewritten"] = float(W.index_stats(merged)[1])
    out["streaming.incremental.segments"] = float(len(wl.wr.segs))
    return out


def layer_metrics(tracer, extra: dict) -> dict:
    m = {
        k: tracer.self_time(*call) * (1000.0 if k.endswith("_ms") else 1.0)
        for k, call in SPAN_TIMES.items()
    }
    m["index.build.sink_s"] = m["index.build.build_index_s"] - m["index.build.encode_s"]
    m.update(extra)
    m.update({f"{layer}.{c}": tracer.counter(layer, c) for layer in LAYERS for c in COUNTERS})
    return {k: {"value": m[k], "unit": u} for k, u in layer_units().items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import splade_spark  # the engine under test, from this source tree
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(splade_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from {splade_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    # private scratch for Spark, the JVM and Python's tempfile; Python
    # workers import the engine from the same source tree
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        result, ok = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
