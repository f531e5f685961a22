#!/usr/bin/env python3
"""clp-spark benchmark: one seeded closed-loop workload per invocation.

    python3 perfbench/run.py --workload text_logs --seed 1 --seconds 10 --trace 0

One client runs a fixed cycle of operations (ingest, the query mix, one
extract) against ``local[<cores>]`` until ``--seconds`` have passed, checks
every operation's result against an expectation computed from the generated
input, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` repeats the loop with spans around every
call into a layer, Spark's event log on and job groups per span, reports the
per-layer metrics and writes the span dump to
``.perfbench_work/trace-<workload>-s<seed>.json``.

Set-up (Spark session start plus one warm-up pass of every operation) is
timed as ``setup_s``; input generation is not timed. All inputs and outputs
live under ``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = (
    ("setup_s", "s"),
    ("ingest_rows_per_s", "rows/s"),
    ("search_p50_s", "s"),
    ("search_tail_s", "s"),
    ("extract_rows_per_s", "rows/s"),
    ("archive_bytes_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile is under the median,
    no tail at all, so the maximum (percentile 100) stands in for it."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 10  # 1-based rank with n - k = 10 samples above it
    if 2 * k < n:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    from clp_spark.plans.pipeline import session_defaults

    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("clp-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "1g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        )
    )
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + ev)
            .config("spark.eventLog.compress", "false")
        )
    spark = session_defaults(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit (it exits when its stdin closes; the Python workers go with it)."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole host from /proc/stat: the share
    other tenants took from this machine while a run was measuring."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def kernel_anchors(seed: int) -> dict:
    """Single-core encode and decode kernel throughput, in process with no
    Spark, on one generated shard: the host-calibration anchors."""
    import numpy as np
    import pyarrow as pa

    from clp_spark.functions.arrow_kernel import (
        encode_core,
        encoded_arrays_from_core,
        tokens_to_buffer,
        vocab_pieces_with_sep,
    )
    from clp_spark.functions.decode_kernel_np import decode_arrays
    from clp_spark.sources.synth import build_vocab, generate_sequences

    n = 20_000
    seq = generate_sequences(n, seed)
    vp = vocab_pieces_with_sep(build_vocab()["text"].tolist())
    tokens = pa.array(seq["tokens"], type=pa.list_(pa.int32()))
    enc_t, dec_t = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        buf, ms, me = tokens_to_buffer(tokens, vp)
        arrays = encoded_arrays_from_core(encode_core(buf, ms, me))
        enc_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        out = decode_arrays(arrays["logtype"], arrays["encoded_vars"], arrays["dict_vars"])
        dec_t.append(time.perf_counter() - t0)
    assert len(out) == n and np.all(np.asarray(seq["n_tok"]) > 0)
    return {
        "functions.arrow_kernel.encode_rows_per_s_1core": (n / min(enc_t), "rows/s"),
        "functions.decode_kernel_np.decode_rows_per_s_1core": (n / min(dec_t), "rows/s"),
    }


class Runner:
    """Runs operations, times them, checks them and keeps the records."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.results: list[dict] = []
        self.failures: list[str] = []
        self.cycles = 0
        self.phase = "warmup"

    def run(self, op, cycle: int) -> dict:
        op_id = f"op{len(self.results)}"
        rec = {"op": op_id, "cycle": cycle, "phase": self.phase,
               "kind": op.kind, "name": op.name}
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op_id, op.name):
                rows, value = op.run()
            rec["seconds"] = time.perf_counter() - t0
            rec["rows"] = rows
            err = op.check(value)
        except Exception as exc:  # an operation that raises counts as failed
            rec["seconds"] = time.perf_counter() - t0
            rec["rows"] = 0
            err = "".join(traceback.format_exception_only(type(exc), exc)).strip()
        rec["ok"] = err is None
        if err is not None:
            rec["error"] = err[:500]
            self.failures.append(f"{op.name}: {err[:300]}")
        self.results.append(rec)
        return rec

    def cycle(self, ops=None) -> None:
        """One pass over ``ops``, by default the workload's cycle."""
        self.cycles += 1
        for op in ops if ops is not None else self.wl.cycle():
            self.run(op, self.cycles)

    def loop(self, seconds: float) -> list[dict]:
        """Closed loop: whole cycles until ``seconds`` have passed, each
        operation started only after the previous one ended. The cycle open
        at the deadline is finished, so every operation is sampled equally."""
        start = len(self.results)
        t_end = time.perf_counter() + seconds
        while True:
            self.cycle()
            if time.perf_counter() >= t_end:
                return self.results[start:]


def e2e_metrics(results, setup_s, wl, rss_mb) -> tuple[dict, dict]:
    def rate(kind):
        v = [r["rows"] / r["seconds"] for r in results if r["kind"] == kind and r["ok"]]
        return statistics.median(v) if v else 0.0

    searches = [r["seconds"] for r in results if r["kind"] == "search"]
    t_val, t_pct, t_n = tail(searches)
    metrics = {
        "setup_s": setup_s,
        "ingest_rows_per_s": rate("ingest"),
        "search_p50_s": statistics.median(searches),
        "search_tail_s": t_val,
        "extract_rows_per_s": rate("extract"),
        "archive_bytes_per_input_byte": wl.archive_bytes() / wl.input_bytes(),
        "peak_rss_mb": rss_mb,
    }
    info = {
        "search_tail_percentile": t_pct,
        "search_samples": t_n,
        "cycles": len({r["cycle"] for r in results}),
    }
    return metrics, info


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's default")
    # perfbench/tests: a wrong expected count must read as a failed operation
    p.add_argument("--corrupt-expectation", action="store_true",
                   help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import clp_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"error: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import clp_spark; temp files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, wl_cls) -> int:
    from spans import PeakRss, Tracer, event_log_counters, op_breakdown
    from workloads import PER_LAYER

    tracer = Tracer(enabled=False)
    wl = wl_cls(spark=None, work=work, seed=args.seed, scale=args.scale, tracer=tracer)
    wl.prepare()
    if args.corrupt_expectation:
        wl.inputs["queries"][0]["expected"] += 1
    runner = Runner(wl, tracer)
    layer, info = {}, {}
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = make_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            wl.spark = tracer.spark = spark
            runner.cycle()  # warm-up pass: JIT, Python workers
            setup_s = time.perf_counter() - t0
            if args.trace:
                # the query mix once untraced, then the loop traced: the
                # tracing overhead is the first traced mix's wall time minus
                # the untraced mix's
                runner.phase = "untraced"
                runner.cycle([op for op in wl.cycle() if op.kind == "search"])
                tracer.enabled = True
                runner.phase = "measured"
                measured = runner.loop(args.seconds)
                first = measured[0]["cycle"]
                walls = [
                    sum(r["seconds"] for r in rs if r["kind"] == "search")
                    for rs in (
                        [r for r in runner.results if r["phase"] == "untraced"],
                        [r for r in measured if r["cycle"] == first],
                    )
                ]
                layer["perfbench.trace_overhead_s"] = (walls[1] - walls[0], "s")
            else:
                runner.phase = "measured"
                j0 = cpu_jiffies()
                measured = runner.loop(args.seconds)
                j1 = cpu_jiffies()
                info["steal_share"] = (j1[0] - j0[0]) / max(1, j1[1] - j0[1])
            metrics, m_info = e2e_metrics(measured, setup_s, wl, rss.peak_mb)
            info.update(m_info)
            if args.trace:
                runner.phase = "extra"
                layer.update(kernel_anchors(args.seed))
                layer.update(wl.traced_extras(runner))
        finally:
            stop_spark(spark)

    if args.trace:
        counters = event_log_counters(os.path.join(work, "eventlog"))
        dump = _trace_dump(tracer, counters, op_breakdown)
        with_layers = [
            dict(r, layers=dump["operations"].get(r["op"], {}).get("layers", {}),
                 counters=dump["op_counters"].get(r["op"], {}))
            for r in runner.results
        ]
        layer.update(wl.op_layers(with_layers))
        per_layer = {
            name: {"value": float(layer.get(name, (0.0,))[0]), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        dump.update(workload=args.workload, seed=args.seed, per_layer=per_layer,
                    tracing_overhead_s=layer["perfbench.trace_overhead_s"][0])
        path = os.path.join(WORK_ROOT, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump(dump, f, indent=1)
        print(f"trace written to {os.path.relpath(path, ROOT)}")

    op_seconds: dict[str, list[float]] = {}
    for r in runner.results:
        op_seconds.setdefault(r["name"], []).append(round(r["seconds"], 3))
    attempted = len(runner.results)
    failed = len(runner.failures)
    end_to_end = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
    end_to_end["failed_op_share"] = {"value": failed / attempted, "unit": "share"}
    report = dict(
        workload=args.workload, seed=args.seed, cores=cores(),
        end_to_end=end_to_end, failures=runner.failures, **info,
        session_start_s=session_s, op_seconds=op_seconds,
        peak_rss_mb_by_command={
            k: round(v / 1024, 1) for k, v in rss.peak_by_command.items()},
        run_wall_s=time.perf_counter() - T_START,
    )
    print("report " + json.dumps(report))
    out = per_layer if args.trace else {k: end_to_end[k] for k, _u in END_TO_END}
    for k, v in out.items():
        if not math.isfinite(v["value"]):
            raise ValueError(f"metric {k} is not a finite number: {v['value']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


def _trace_dump(tracer, counters, op_breakdown) -> dict:
    """Spans, per-span event-log counters and, per operation, each layer's
    self time plus the remainder no layer covers."""
    by_span = {s["id"]: s for s in tracer.spans}
    op_counters: dict[str, dict] = {}
    for sid, c in counters.items():
        s = by_span.get(sid)
        if s is None or s["op"] is None:
            continue
        agg = op_counters.setdefault(s["op"], {}).setdefault(
            s["name"], dict.fromkeys(c, 0))
        for k, v in c.items():
            agg[k] += v
    return {
        "spans": tracer.spans,
        "span_counters": {sid: c for sid, c in counters.items() if sid in by_span},
        "operations": {b["op"]: b for b in op_breakdown(tracer.spans)},
        "op_counters": op_counters,
    }


if __name__ == "__main__":
    sys.exit(main())
