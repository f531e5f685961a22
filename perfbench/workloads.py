"""The workloads: each is a fixed cycle of operations, every one a call into
a public engine function, plus the traced-only layer measurements (the token
pipeline among them).

An operation returns ``(rows, value)``; its ``check`` compares ``value``
with the expectation computed by ``gen`` and returns ``None`` or the reason
it failed. Only the operation itself is timed.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from clp_spark.operators.federation import dir_bytes

import gen
from spans import Tracer


@dataclass
class Op:
    kind: str  # "ingest" | "search" | "extract"
    name: str
    run: Callable[[], tuple[int, object]]
    check: Callable[[object], str | None]


@dataclass
class Workload:
    spark: object
    work: str
    seed: int
    scale: float
    tracer: Tracer
    inputs: dict = field(default_factory=dict)
    _gen: int = 0

    # ---- subclass API
    def prepare(self) -> None:
        """Generate the inputs (not timed)."""
        raise NotImplementedError

    def cycle(self) -> list[Op]:
        """One round of the closed loop: ingest, the query mix, one extract."""
        raise NotImplementedError

    def archive_bytes(self) -> int:
        """Bytes on disk of the latest ingest's archives."""
        raise NotImplementedError

    def input_bytes(self) -> int:
        """Raw bytes of the generated input those archives hold."""
        return self.inputs["input_bytes"]

    def traced_extras(self, runner) -> dict:
        """Traced-only layer measurements that need Spark running:
        name -> (value, unit). Checked operations go through ``runner``."""
        return {}

    def op_layers(self, results: list[dict]) -> dict:
        """Per-layer metrics from the traced loop's operations, each carrying
        its layer self times (``layers``) and event-log ``counters``."""
        raise NotImplementedError

    # ---- helpers
    def _fresh_dir(self, prefix: str) -> str:
        """A new output directory for an ingest; older ones are removed so
        the run's disk use stays bounded."""
        self._gen += 1
        for old in glob.glob(os.path.join(self.work, prefix + "-*")):
            shutil.rmtree(old, ignore_errors=True)
        path = os.path.join(self.work, f"{prefix}-{self._gen:04d}")
        os.makedirs(path)
        return path

    def _collect(self, df, *cols):
        with self.tracer.span("spark.collect"):
            return df.select(*cols).collect()

    def _search_check(self, expected: int):
        def check(rows):
            if len(rows) != expected:
                return f"matched {len(rows)} rows, expected {expected}"
            return None

        return check


def _noop(df) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _walls(results, name):
    """Wall times of the traced loop's operations called ``name``."""
    return [
        r["seconds"] for r in results
        if r["name"] == name and r["phase"] == "measured"
    ]


def _layer_self(results, layer):
    """Median over operations of one layer's summed self time."""
    vals = [r["layers"][layer] for r in results if layer in r.get("layers", {})]
    return _median(vals)


def _layer_counter(results, layer, key):
    vals = [
        r["counters"][layer][key]
        for r in results
        if layer in r.get("counters", {})
    ]
    return _median(vals)


# ------------------------------------------------------------ tokens pipeline


class TokensPipeline:
    """plans.pipeline encode → dicts → route → agg (4 splits) over the
    generated (doc_id, tokens, n_tok, source) table: the north-star ingest
    job. Checked for per-source row counts and row conservation."""

    splits = 4
    STAGES = ("encode_stage", "dicts_stage", "route_stage", "agg_stage")

    def __init__(self, wl: Workload, n_rows: int):
        self.wl = wl
        self.inputs = gen.write_sequences(
            os.path.join(wl.work, "input", "tokens"), n_rows, wl.seed
        )
        self.out = None

    def ingest(self):
        from clp_spark.plans import pipeline
        from clp_spark.plans.lineage import LineageLog

        wl, tr, inp = self.wl, self.wl.tracer, self.inputs
        out = os.path.join(wl._fresh_dir("pipe"), "arch")
        lineage = LineageLog(out)
        with tr.span("plans.pipeline.encode_stage"):
            pipeline.encode_stage(
                wl.spark, inp["seq_path"], inp["vocab_path"], out, self.splits, lineage
            )
        with tr.span("plans.pipeline.dicts_stage"):
            pipeline.dicts_stage(wl.spark, out, lineage)
        with tr.span("plans.pipeline.route_stage"):
            pipeline.route_stage(wl.spark, out, self.splits, lineage)
        with tr.span("plans.pipeline.agg_stage"):
            pipeline.agg_stage(wl.spark, out, lineage)
        self.out = out
        return inp["rows"], (out, lineage.read_all())

    def check(self, value):
        out, records = value
        want = self.inputs["per_source"]
        sink = pq.read_table(os.path.join(out, "agg", "sink_counts")).to_pandas()
        got = {str(s): int(n) for s, n in zip(sink["source"], sink["n_rows"])}
        if got != want:
            return f"per-source row counts {got} != expected {want}"
        n = self.inputs["rows"]
        lt = pq.read_table(os.path.join(out, "agg", "logtype_counts")).to_pandas()
        if int(lt["n"].sum()) != n:
            return f"agg logtype counts sum to {int(lt['n'].sum())}, expected {n}"
        routed = sum(r.get("rows", 0) for r in records if r["stage"] == "route")
        encoded = sum(r.get("rows", 0) for r in records if r["stage"] == "encode")
        if routed != n or encoded != n:
            return f"rows encoded {encoded} / routed {routed}, expected {n}"
        return None

    def op_layers(self, results) -> dict:
        ingests = [r for r in results if r["name"] == "pipeline"]
        m = {}
        for st in self.STAGES:
            layer = f"plans.pipeline.{st}"
            m[f"{layer}.s"] = (_layer_self(ingests, layer), "s")
            for key, unit in (("tasks", "count"), ("shuffle_write_bytes", "bytes"),
                              ("spill_bytes", "bytes")):
                m[f"{layer}.{key}"] = (_layer_counter(ingests, layer, key), unit)
        m["plans.pipeline.route_stage.bytes_written"] = (
            dir_bytes(os.path.join(self.out, "sinks")), "bytes")
        m["operators.dictionary.logtypes"] = (
            pq.read_table(os.path.join(self.out, "logtype_dict")).num_rows, "count")
        m["operators.dictionary.variables"] = (
            pq.read_table(os.path.join(self.out, "var_dict")).num_rows, "count")
        return m


# ------------------------------------------------------------ text_logs


class TextLogs(Workload):
    """`clp c` → federated `clg` → `clp x` over rotated text logs."""

    n_files = 8
    n_archives = 4

    def prepare(self) -> None:
        n = max(800, int(6_000 * self.scale))
        self.inputs = gen.write_text_logs(
            os.path.join(self.work, "input", "text"), n, self.seed,
            n_files=self.n_files,
        )
        self.paths = [f["path"] for f in self.inputs["files"]]
        self.archives_dir = None

    def _ingest(self):
        from clp_spark.sources.logfiles import compress_text_logs_multi

        out = self._fresh_dir("text")
        # the compressor closes an archive once it reaches the target, so
        # aim just under an even share to get n_archives of them
        target = int(0.9 * self.inputs["input_bytes"] / self.n_archives)
        with self.tracer.span("sources.logfiles.compress_text_logs_multi"):
            summary = compress_text_logs_multi(self.spark, self.paths, out, target)
        self.archives_dir = out
        return summary["messages"], summary

    def _check_ingest(self, summary):
        want = self.inputs["messages"]
        if summary["messages"] != want:
            return f"{summary['messages']} messages archived, expected {want}"
        if summary.get("raw_bytes") != self.inputs["input_bytes"]:
            return f"archives account for {summary.get('raw_bytes')} raw bytes"
        return None

    def _search(self, q):
        from clp_spark.operators.federation import search_archives

        lo, hi = q.get("window", (None, None))

        def run():
            with self.tracer.span("operators.federation.search_archives"):
                df = search_archives(
                    self.spark, self.archives_dir, q["query"], ts_lo=lo, ts_hi=hi
                )
            rows = self._collect(df, "message")
            return len(rows), rows

        return run

    def _extract(self):
        """`clp x <archive> <file>`: the oldest input file, from whichever
        archive holds it, so every seed extracts a file of the same size."""
        from clp_spark.operators.federation import discover_archives
        from clp_spark.sources.logfiles import decompress_file

        target = self.paths[0]
        name = os.path.basename(target)
        path = next(
            p for _aid, p in discover_archives(self.archives_dir)
            if any(name in d for d in os.listdir(os.path.join(p, "sinks")))
        )
        with self.tracer.span("sources.logfiles.decompress_file"):
            df = decompress_file(self.spark, path, file_id=target)
        rows = self._collect(df, "file_id", "msg_ix", "message")
        return len(rows), rows

    def _check_extract(self, rows):
        # decompress_file returns the rows in (file_id, msg_ix) order
        want = self.inputs["files"][0]
        name = os.path.basename(want["path"])
        got_files = {r["file_id"].rstrip("/").rsplit("/", 1)[-1] for r in rows}
        if got_files != {name}:
            return f"extracted files {sorted(got_files)}, expected {name}"
        if ("\n".join(r["message"] for r in rows) + "\n").encode() != want["bytes"]:
            return f"{name}: reconstruction differs from the input file"
        return None

    def cycle(self) -> list[Op]:
        ops = [Op("ingest", "ingest.text", self._ingest, self._check_ingest)]
        for q in self.inputs["queries"]:
            ops.append(
                Op("search", f"search.{q['name']}", self._search(q),
                   self._search_check(q["expected"]))
            )
        ops.append(Op("extract", "extract", self._extract, self._check_extract))
        return ops

    def archive_bytes(self) -> int:
        return dir_bytes(self.archives_dir)

    def traced_extras(self, runner) -> dict:
        from clp_spark.functions.arrow_kernel import encode_df
        from clp_spark.operators.decode import decode_df
        from clp_spark.operators.federation import (
            discover_archives,
            prune_archives_by_time,
        )
        from clp_spark.operators.messages import assemble_multiline
        from clp_spark.operators.search import compile_subqueries
        from clp_spark.sources.logfiles import read_log_lines_any

        tr, spark = self.tracer, self.spark
        m = {}
        # nested prefixes of compress, each materialised to a noop sink;
        # a layer's self time is its prefix minus the shorter one. Best of
        # two rounds: the first also compiles each prefix's plan
        t = {}
        keys = ["file_id", "msg_ix", "ts_ms", "ts_pat"]
        with tr.op("layer.compress_prefixes", "layer.compress_prefixes"):
            for name in ("read", "assemble", "encode") * 2:
                t0 = time.perf_counter()
                with tr.span(f"prefix.{name}"):
                    df = read_log_lines_any(spark, self.paths, with_container=True)
                    if name != "read":
                        df = assemble_multiline(
                            df, lock_patterns=True, emit_pattern=True,
                            passthrough=("container",),
                        )
                    if name == "encode":
                        df = encode_df(
                            df.select(*keys, "container", "message"),
                            keys + ["container"], "message",
                        )
                    _noop(df)
                t[name] = min(t.get(name, math.inf), time.perf_counter() - t0)
        m["sources.logfiles.read_log_lines_any.s"] = (t["read"], "s")
        m["operators.messages.assemble_multiline.s"] = (t["assemble"] - t["read"], "s")
        m["functions.arrow_kernel.encode_df.s"] = (t["encode"] - t["assemble"], "s")

        archives = discover_archives(self.archives_dir)
        m["sources.logfiles.compress_text_logs_multi.archives"] = (len(archives), "count")
        comp = []
        with tr.op("layer.compile", "layer.compile"):
            # the union dictionary federated search compiles against
            var_u = spark.read.parquet(
                *[os.path.join(p, "var_dict") for _aid, p in archives]
            ).select("var_value").distinct()
            for q in self.inputs["queries"]:
                t0 = time.perf_counter()
                with tr.span("operators.search.compile_subqueries"):
                    compile_subqueries(q["query"], var_u)
                comp.append(time.perf_counter() - t0)
        m["operators.search.compile_subqueries.s"] = (_median(comp), "s")
        win = next(q["window"] for q in self.inputs["queries"] if "window" in q)
        kept = prune_archives_by_time(archives, *win)
        m["operators.federation.prune_archives_by_time.kept_share"] = (
            len(kept) / len(archives), "share")

        # one full-archive decode
        path = archives[0][1]
        with tr.op("layer.decode", "layer.decode"):
            sinks = spark.read.option("basePath", f"{path}/sinks").parquet(f"{path}/sinks")
            lt = spark.read.parquet(f"{path}/logtype_dict")
            n = sinks.count()
            with_lt = sinks.join(
                F.broadcast(lt.select("logtype_id", "logtype")), "logtype_id"
            )
            t0 = time.perf_counter()
            with tr.span("operators.decode.decode_df"):
                _noop(decode_df(with_lt, ["file_id", "msg_ix"]))
            dt = time.perf_counter() - t0
        m["operators.decode.decode_df.rows_per_s"] = (n / dt, "rows/s")
        return m

    def op_layers(self, results) -> dict:
        m = {
            "sources.logfiles.compress_text_logs_multi.s": (
                _median(_walls(results, "ingest.text")), "s"),
            "sources.logfiles.decompress_file.s": (
                _median(_walls(results, "extract")), "s"),
        }
        for q in self.inputs["queries"]:
            m[f"operators.federation.search_archives.{q['name']}.p50_s"] = (
                _median(_walls(results, f"search.{q['name']}")), "s")
        return m


# ------------------------------------------------------------ json_logs


class JsonLogs(Workload):
    """clp-s compress → federated KQL search → reconstruct."""

    def prepare(self) -> None:
        n = max(800, int(24_000 * self.scale))
        self.inputs = gen.write_json_logs(os.path.join(self.work, "input"), n, self.seed)
        # the engine's documented round-trip canonicalizes key order within
        # each object (json_archive module docstring); everything else,
        # values and record order included, must come back byte for byte
        self.canonical = [
            json.dumps(json.loads(line), sort_keys=True, separators=(",", ":"))
            for line in self.inputs["bytes"].decode().split("\n")[:-1]
        ]
        self.archives_dir = None
        self.telemetry: list[dict] = []

    def _ingest(self):
        from clp_spark.operators.json_archive import compress_jsonl_archives_multi

        out = os.path.join(self._fresh_dir("json"), "archives")
        target = self.inputs["input_bytes"] // 8 + 1
        with self.tracer.span("operators.json_archive.compress_jsonl_archives_multi"):
            df = self.spark.read.text(self.inputs["path"])
            summary = compress_jsonl_archives_multi(
                df, "value", out, target_encoded_size=target, timestamp_key="ts"
            )
        self.archives_dir = out
        return summary["rows"], summary

    def _check_ingest(self, summary):
        want = self.inputs["records"]
        if summary["rows"] != want or summary.get("invalid", 0):
            return (f"{summary['rows']} records archived "
                    f"({summary.get('invalid')} invalid), expected {want}")
        return None

    def _search(self, q):
        from clp_spark.operators.json_archive import search_json_archives

        def run():
            sink: list[dict] = []
            with self.tracer.span("operators.json_archive.search_json_archives"):
                df = search_json_archives(
                    self.spark, self.archives_dir, q["query"],
                    tge=q.get("tge"), tle=q.get("tle"), telemetry_sink=sink,
                )
            rows = self._collect(df, "json")
            self.telemetry.extend(sink)
            return len(rows), rows

        return run

    def _extract(self):
        from clp_spark.operators.json_archive import (
            discover_json_archives,
            reconstruct_jsonl,
        )

        d = discover_json_archives(self.archives_dir)[0]
        with self.tracer.span("operators.json_archive.reconstruct_jsonl"):
            df = reconstruct_jsonl(self.spark, d)
        rows = self._collect(df, "log_event_idx", "json")
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
        want = sum(e.get("rows", 0) for e in manifest["schemas"])
        return len(rows), (rows, want)

    def _check_extract(self, value):
        rows, want = value
        if len(rows) != want or not rows:
            return f"reconstructed {len(rows)} records, manifest holds {want}"
        for r in rows:
            i = r["log_event_idx"]
            if i is None or not 0 <= i < len(self.canonical):
                return f"record index {i} is outside the input"
            if r["json"] != self.canonical[i]:
                return (f"record {i} reads {r['json'][:160]!r}, "
                        f"expected {self.canonical[i][:160]!r}")
        return None

    def cycle(self) -> list[Op]:
        ops = [Op("ingest", "ingest.json", self._ingest, self._check_ingest)]
        for q in self.inputs["queries"]:
            ops.append(
                Op("search", f"search.{q['name']}", self._search(q),
                   self._search_check(q["expected"]))
            )
        ops.append(Op("extract", "extract", self._extract, self._check_extract))
        return ops

    def archive_bytes(self) -> int:
        return dir_bytes(self.archives_dir)

    def traced_extras(self, runner) -> dict:
        from clp_spark.operators.json_archive import discover_json_archives
        from clp_spark.operators.kql import parse_kql

        schemas = set()
        for d in discover_json_archives(self.archives_dir):
            with open(os.path.join(d, "manifest.json")) as f:
                schemas.update(e["schema_id"] for e in json.load(f)["schemas"])
        per, reps = [], 50
        with self.tracer.op("layer.parse_kql", "layer.parse_kql"):
            for q in self.inputs["queries"]:
                t0 = time.perf_counter()
                with self.tracer.span("operators.kql.parse_kql"):
                    for _ in range(reps):
                        parse_kql(q["query"])
                per.append((time.perf_counter() - t0) / reps)
        # the four-stage pipeline has no end-to-end workload of its own (see
        # METRICS.md); two passes over the sequences table, the first warming
        # its plans, give its per-stage layer metrics
        self.tokens = TokensPipeline(self, max(400, int(12_000 * self.scale)))
        runner.cycle([Op("ingest", "pipeline.warmup", self.tokens.ingest, self.tokens.check)])
        runner.cycle([Op("ingest", "pipeline", self.tokens.ingest, self.tokens.check)])
        return {
            "operators.json_archive.compress_jsonl_archives_multi.schemas": (
                len(schemas), "count"),
            "operators.kql.parse_kql.s": (_median(per), "s"),
        }

    def op_layers(self, results) -> dict:
        m = self.tokens.op_layers(results)
        m.update({
            "operators.json_archive.compress_jsonl_archives_multi.s": (
                _median(_walls(results, "ingest.json")), "s"),
            "operators.json_archive.reconstruct_jsonl.s": (
                _median(_walls(results, "extract")), "s"),
        })
        for q in self.inputs["queries"]:
            m[f"operators.json_archive.search_json_archives.{q['name']}.p50_s"] = (
                _median(_walls(results, f"search.{q['name']}")), "s")
        pruned = sum(1 for t in self.telemetry if t["termination_stage"])
        m["operators.json_archive.search_json_archives.pruned_share"] = (
            pruned / max(1, len(self.telemetry)), "share")
        return m


WORKLOADS = {
    "text_logs": TextLogs,
    "json_logs": JsonLogs,
}


def _per_layer() -> dict[str, str]:
    m = {}
    for st in TokensPipeline.STAGES:
        layer = f"plans.pipeline.{st}"
        m[f"{layer}.s"] = "s"
        m[f"{layer}.tasks"] = "count"
        m[f"{layer}.shuffle_write_bytes"] = "bytes"
        m[f"{layer}.spill_bytes"] = "bytes"
    m["plans.pipeline.route_stage.bytes_written"] = "bytes"
    m["operators.dictionary.logtypes"] = "count"
    m["operators.dictionary.variables"] = "count"
    m["functions.arrow_kernel.encode_rows_per_s_1core"] = "rows/s"
    m["functions.decode_kernel_np.decode_rows_per_s_1core"] = "rows/s"
    m["sources.logfiles.read_log_lines_any.s"] = "s"
    m["operators.messages.assemble_multiline.s"] = "s"
    m["functions.arrow_kernel.encode_df.s"] = "s"
    m["sources.logfiles.compress_text_logs_multi.s"] = "s"
    m["sources.logfiles.compress_text_logs_multi.archives"] = "count"
    m["operators.search.compile_subqueries.s"] = "s"
    m["operators.federation.prune_archives_by_time.kept_share"] = "share"
    for c in QUERY_CLASSES:
        m[f"operators.federation.search_archives.{c}.p50_s"] = "s"
    m["operators.decode.decode_df.rows_per_s"] = "rows/s"
    m["sources.logfiles.decompress_file.s"] = "s"
    m["operators.json_archive.compress_jsonl_archives_multi.s"] = "s"
    m["operators.json_archive.compress_jsonl_archives_multi.schemas"] = "count"
    m["operators.kql.parse_kql.s"] = "s"
    for c in QUERY_CLASSES:
        m[f"operators.json_archive.search_json_archives.{c}.p50_s"] = "s"
    m["operators.json_archive.search_json_archives.pruned_share"] = "share"
    m["operators.json_archive.reconstruct_jsonl.s"] = "s"
    m["perfbench.trace_overhead_s"] = "s"
    return m


QUERY_CLASSES = ("miss", "selective", "broad", "time_window")
# every per-layer metric a traced run prints, with its unit; a layer the
# workload does not call reads 0
PER_LAYER = _per_layer()
