"""End-to-end CLP-semantics ingest pipeline, Spark-first.

read(tokens) → detokenize (Arrow UDF, fixed vocab) → CLP-encode (Arrow UDF) →
dictionary build (distinct + parallel sorted-rank) → enrich (broadcast hash
join) → route (partitioned writes per source) → per-sink aggregates.

Mirrors CLP's compression lifecycle (reference:
components/core/src/clp/clp/FileCompressor.cpp:118,
streaming_archive/writer/Archive.cpp:301-313 — parse → encode+dict → columnar
append → per-archive metadata) re-expressed as four resumable Spark stages:

  encode   per split: bucket of input → encoded columnar table (parquet/zstd)
  dicts    global: logtype + variable dictionaries, deterministic sorted ids
  route    per split: enrich with ids, fan out partitioned by source
  agg      global: per-sink row counts, logtype frequencies, var frequencies

Each stage writes an O(1)-sized lineage record per split (plans/lineage.py);
re-running skips completed splits — idempotent under retry because every
split's output path is overwritten whole.

Scale notes (100 TB / 10^12 rows):
- splits = hash buckets of doc_id; at scale the input is an Iceberg table
  partitioned by bucket(doc_id) so each split's scan is pruned to 1/B of the
  files. Encode work is O(rows) once — the encoded intermediate is written,
  not recomputed per stage.
- dictionaries: logtype dict is tiny (log data is highly templated) →
  broadcast joins. Var dict may be large → shuffle join path available.
- aggregates use Spark's built-in partial (map-side) aggregation; hot
  (source, logtype) keys collapse before the shuffle, so Zipf skew does not
  concentrate on one reducer. AQE (enabled in session config) re-splits any
  residual skewed shuffle partitions.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clp_spark.operators.dictionary import (
    build_logtype_dict,
    build_var_dict,
    enrich_with_logtype_ids,
)
from clp_spark.plans.lineage import LineageLog


def _dir_bytes(path: str) -> int:
    """Compression/size stats per sink (reference ArchiveStats,
    compression_task.py:98-144) — O(files), not O(rows)."""
    import os

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def bloom_filter_options(columns: list[str], expected_ndv: int = 100_000) -> dict:
    """Parquet bloom-filter write options for value columns (the CLP
    per-column BloomFilter analog — reference clp_s/filter/FilterBuilder.hpp:
    18-49; probing happens inside the parquet reader's row-group skipping)."""
    opts: dict[str, str] = {}
    for c in columns:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(expected_ndv)
    return opts


def glt_bucket(logtype_col, num_buckets: int):
    """Portable logtype→bucket id (md5-derived 60-bit hash mod buckets;
    replicable in any engine: CAST('0x'||substr(md5(x),1,15) AS BIGINT) % n)."""
    h = F.conv(F.substring(F.md5(logtype_col), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(num_buckets))


def glt_route(encoded: DataFrame, out_dir: str, num_buckets: int = 16) -> None:
    """GLT-style per-logtype routing (reference
    glt/streaming_archive/writer/LogtypeTable.hpp:13-18): rows grouped by
    logtype into per-logtype tables. With Zipf-skewed logtypes a plain
    partitionBy(logtype_id) would create one giant and many tiny partitions,
    so we bucket the id (the GLT 'combined table' for small logtypes —
    GLTSegment.hpp:104-109 — is the bucket; AQE coalesces small writes)."""
    (
        encoded.withColumn(
            "lt_bucket", glt_bucket(F.col("logtype"), num_buckets)
        )
        .repartition(F.col("lt_bucket"))
        # within a bucket, same-logtype rows sit adjacent (the GLT layout's
        # whole point) — measured ~20% smaller parquet on multi-template
        # corpora; in-task sort, no extra shuffle
        .sortWithinPartitions("lt_bucket", "logtype")
        .write.mode("overwrite")
        .partitionBy("lt_bucket")
        .parquet(out_dir)
    )


def _jvm_tuning(builder):
    """Pre-touched fixed heap + ParallelGC, merged into any caller-set
    driver java options.

    Measured on this sandbox (2026-08-17): during Arrow-heavy encode stages
    the default G1 setup spent 95 s of *system* time per 12 s of wall —
    G1 uncommits heap regions and the re-faults turn into hypervisor EPT
    page-fault storms (50-70% sys across 32 cores). -Xms=half-of-Xmx with
    AlwaysPreTouch + ParallelGC (which never uncommits) cut the same job to
    ~1 s sys / 2.2 s wall — a 2x end-to-end throughput win. Ignored (gracefully)
    when the JVM is already up, e.g. under spark-submit with its own opts.
    """
    opts = dict(getattr(builder, "_options", {}))
    prev = str(opts.get("spark.driver.extraJavaOptions", "")).strip()
    if "-Xms" in prev or "GC" in prev:
        # caller chose their own heap/GC strategy — don't fight it
        return builder
    if "spark.driver.memory" not in opts:
        # Spark's default is 1g; Xms must stay below Xmx, so pin the engine
        # default explicitly rather than guessing
        builder = builder.config("spark.driver.memory", "4g")
        opts["spark.driver.memory"] = "4g"
    mem = str(opts["spark.driver.memory"]).strip().lower()
    m = re.match(r"^(\d+)([gmk]?)$", mem)
    if m:
        n, unit = int(m.group(1)), m.group(2)
        mb = n * 1024 if unit in ("g", "") else (n if unit == "m" else n // 1024)
    else:
        mb = 1024
    # Xms must never exceed Xmx — a caller-set tiny driver.memory (e.g.
    # 256m in a test) would otherwise abort the JVM at launch
    xms_mb = min(mb, max(512, mb // 2))
    heap = f"-Xms{xms_mb}m " if xms_mb >= 16 else ""
    gc = f"{heap}-XX:+AlwaysPreTouch -XX:+UseParallelGC"
    return builder.config(
        "spark.driver.extraJavaOptions", f"{prev} {gc}".strip()
    )


def session_defaults(builder):
    """AQE + skew-join + sane shuffle sizing + JVM/allocator tuning."""
    # Python workers (forked by the JVM's pyspark.daemon) inherit these:
    # numpy's large per-batch kernel buffers stay on the reused glibc heap
    # instead of a fresh mmap/munmap (+ page-fault) cycle per Arrow batch.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    return (
        _jvm_tuning(builder).config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the numpy/Arrow encode kernel amortizes per-batch fixed cost —
        # 64k-row batches are ~1.4x faster end-to-end than the 10k default
        # (~4 MB of message bytes per batch; safe well past 1M rows/batch)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    )


def encode_stage(
    spark: SparkSession,
    seq_path: str,
    vocab_path: str,
    out_dir: str,
    num_splits: int,
    lineage: LineageLog,
) -> None:
    """Encode in ONE input pass: the split id is computed as a column and the
    write is partitionBy("split") — never B scans of a 100-TB input. Resume
    after a partial failure filters the single scan to the missing splits and
    overwrites only those partitions (dynamic partitionOverwriteMode), so a
    re-run touches neither completed splits' files nor their lineage."""
    from clp_spark.functions.arrow_kernel import detok_encode_df

    pending = [b for b in range(num_splits) if not lineage.is_done("encode", b)]
    if not pending:
        return
    vocab = [
        r["text"] for r in spark.read.parquet(vocab_path).orderBy("token_id").collect()
    ]
    t0 = time.time()
    seq = spark.read.parquet(seq_path)
    split_col = F.pmod(F.xxhash64("doc_id"), F.lit(num_splits))
    if len(pending) < num_splits:
        seq = seq.where(split_col.isin(pending))
    with_split = seq.withColumn("split", split_col)
    encoded = detok_encode_df(with_split, vocab, ["doc_id", "source", "n_tok", "split"])
    (
        encoded.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("split")
        .parquet(f"{out_dir}/encoded")
    )
    wall = time.time() - t0
    # per-split lineage from the written layout: one partition-column-only
    # aggregation (footer metadata scan), not a re-read of the data columns
    counts = {
        int(r["split"]): int(r["cnt"])
        for r in spark.read.parquet(f"{out_dir}/encoded")
        .groupBy("split")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    for b in pending:
        path = f"{out_dir}/encoded/split={b}"
        lineage.record(
            "encode", b, rows=counts.get(b, 0), wall_s=wall / len(pending),
            path=path, output_bytes=_dir_bytes(path),
        )


def dicts_stage(spark: SparkSession, out_dir: str, lineage: LineageLog) -> None:
    if lineage.is_done("dicts"):
        return
    t0 = time.time()
    encoded = spark.read.parquet(f"{out_dir}/encoded")
    logtype_dict = build_logtype_dict(encoded)
    logtype_dict.write.mode("overwrite").parquet(f"{out_dir}/logtype_dict")
    var_dict = build_var_dict(encoded)
    var_dict.write.mode("overwrite").parquet(f"{out_dir}/var_dict")
    n_lt = spark.read.parquet(f"{out_dir}/logtype_dict").count()
    n_var = spark.read.parquet(f"{out_dir}/var_dict").count()
    lineage.record("dicts", logtypes=n_lt, variables=n_var, wall_s=time.time() - t0)


def route_stage(
    spark: SparkSession, out_dir: str, num_splits: int, lineage: LineageLog,
    table_format: str | None = None, max_records_per_file: int = 2_000_000,
) -> None:
    """Fan encoded+enriched rows out to per-source sinks (CLP's per-schema /
    per-source routing, reference clp_s/ArchiveWriter.cpp:258-266).

    table_format="snapshot": each split is one tagged, idempotent append
    commit to the snapshot-catalog sink table (per-source Iceberg-sink
    analog, clp_spark/sinks/table_format.py) — atomic publish, time travel,
    retry-safe; plain partitioned parquet otherwise.
    """
    logtype_dict = spark.read.parquet(f"{out_dir}/logtype_dict")
    tbl = None
    if table_format == "snapshot":
        from clp_spark.sinks.table_format import SnapshotTable

        tbl = SnapshotTable(f"{out_dir}/sinks_tbl")
    for b in range(num_splits):
        if lineage.is_done("route", b):
            continue
        t0 = time.time()
        encoded = spark.read.parquet(f"{out_dir}/encoded/split={b}")
        enriched = enrich_with_logtype_ids(encoded, logtype_dict, broadcast=True)
        sel = (
            enriched.select(
                "doc_id", "source", "logtype_id", "placeholders",
                "encoded_vars", "dict_vars",
            )
            .repartition(F.col("source"), F.pmod(F.xxhash64("doc_id"), F.lit(8)))
            # same-logtype rows adjacent inside each sink file (GLT layout,
            # ~20% smaller zstd parquet — see BENCH.md round 3); in-task sort
            .sortWithinPartitions("source", "logtype_id")
        )
        if tbl is not None:
            version = tbl.commit(sel, "append", ("source",), tag=f"route-split-{b}")
            written = tbl.read_added(spark, version)
            path = f"{tbl.path}@v{version}"
            out_bytes = 0  # snapshot manifests carry file lists; sizes via data/
        else:
            path = f"{out_dir}/sinks/split={b}"
            # archive/file splitting (reference split_file_and_archive,
            # FileCompressor.cpp:275-293): bound each output file's rows —
            # the Iceberg target-file-size analog
            sel.write.mode("overwrite").option(
                "maxRecordsPerFile", str(max_records_per_file)
            ).partitionBy("source").parquet(path)
            written = spark.read.parquet(path)
            out_bytes = _dir_bytes(path)
        per_source = {
            r["source"]: r["cnt"]
            for r in written.groupBy("source").agg(F.count("*").alias("cnt")).collect()
        }
        lineage.record(
            "route", b, rows=sum(per_source.values()), per_source=per_source,
            wall_s=time.time() - t0, path=path, output_bytes=out_bytes,
        )


def read_sinks(spark: SparkSession, out_dir: str, table_format: str | None = None):
    if table_format == "snapshot":
        from clp_spark.sinks.table_format import SnapshotTable

        return SnapshotTable(f"{out_dir}/sinks_tbl").read(spark)
    return spark.read.option("basePath", f"{out_dir}/sinks").parquet(f"{out_dir}/sinks")


def agg_stage(
    spark: SparkSession, out_dir: str, lineage: LineageLog,
    table_format: str | None = None,
) -> None:
    """Per-sink frequency tallies (CLP's dict occurrence counts + compression
    stats, reference clp_s/SchemaTree.hpp:68, compression_task.py:98-144)."""
    if lineage.is_done("agg"):
        return
    t0 = time.time()
    sinks = read_sinks(spark, out_dir, table_format)
    sinks.groupBy("source").agg(F.count("*").alias("n_rows")).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/agg/sink_counts")
    sinks.groupBy("source", "logtype_id").agg(F.count("*").alias("n")).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/agg/logtype_counts")
    var_dict = spark.read.parquet(f"{out_dir}/var_dict")
    (
        sinks.select("source", F.explode("dict_vars").alias("var_value"))
        .groupBy("source", "var_value")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(var_dict), "var_value")
        .select("source", "var_id", "var_value", "n")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/agg/var_counts")
    )
    lineage.record("agg", wall_s=time.time() - t0)


def run_pipeline(
    spark: SparkSession,
    seq_path: str,
    vocab_path: str,
    out_dir: str,
    num_splits: int = 4,
    table_format: str | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns lineage summary.

    table_format="snapshot" routes the per-source sinks through the
    snapshot-catalog table (atomic tagged commits, time travel); None keeps
    plain partitioned parquet sinks."""
    lineage = LineageLog(out_dir)
    encode_stage(spark, seq_path, vocab_path, out_dir, num_splits, lineage)
    dicts_stage(spark, out_dir, lineage)
    route_stage(spark, out_dir, num_splits, lineage, table_format)
    agg_stage(spark, out_dir, lineage, table_format)
    return {"records": lineage.read_all()}


def main() -> None:
    import argparse

    p = argparse.ArgumentParser(description="CLP-semantics Spark ingest pipeline")
    p.add_argument("--sequences", required=True)
    p.add_argument("--vocab", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--splits", type=int, default=4)
    p.add_argument("--master", default="local[*]")
    args = p.parse_args()
    spark = session_defaults(
        SparkSession.builder.master(args.master)
        .appName("clp-spark-pipeline")
        .config("spark.sql.shuffle.partitions", str(max(32, args.splits * 8)))
    ).getOrCreate()
    summary = run_pipeline(spark, args.sequences, args.vocab, args.out, args.splits)
    print({"stages": len(summary["records"])})


if __name__ == "__main__":
    main()


def glt_route_tiered(
    encoded: DataFrame,
    out_dir: str,
    combine_threshold_pct: float = 0.1,
    num_buckets: int = 16,
) -> dict:
    """GLT two-tier routing with the reference's combine threshold
    (glt/streaming_archive/writer/GLTSegment.cpp:94-104, CLI default 0.1% —
    glt/glt/CommandLineArguments.hpp:38): a logtype whose share of the
    segment exceeds the threshold is written as its OWN table
    (write_single_logtype); everything smaller accumulates into combined
    tables (write_combined_logtype) — here hash buckets. Share is measured
    in rows (the reference uses encoded bytes; rows are the Spark-side
    proxy — fixed-width encoded columns make them proportional).

    Scale shape: one partial-agg shuffle for the counts; the hot set is
    bounded by pigeonhole (at threshold t% at most 100/t logtypes qualify —
    ≤1000 at 0.1%) so it broadcasts; then ONE partitioned write. The hot
    tier also neutralizes Zipf skew: the head logtypes that would overwhelm
    a hash bucket each get a dedicated partition.

    Returns {"total_rows", "hot_logtypes", "threshold_rows"}.
    """
    counts = encoded.groupBy("logtype").agg(F.count("*").alias("_n"))
    agg = counts.agg(
        F.sum("_n").alias("total"),
    ).collect()[0]
    total = int(agg["total"] or 0)
    thr = total * combine_threshold_pct / 100.0
    hot = counts.where(F.col("_n") > thr).select("logtype")
    n_hot = hot.count()  # bounded by 100/combine_threshold_pct
    routed = (
        encoded.join(
            F.broadcast(hot.withColumn("_hot", F.lit(True))), "logtype", "left"
        )
        .withColumn(
            "lt_table",
            F.when(
                F.col("_hot").isNotNull(),
                F.concat(F.lit("lt-"), F.substring(F.md5("logtype"), 1, 15)),
            ).otherwise(
                F.concat(
                    F.lit("combined-"),
                    glt_bucket(F.col("logtype"), num_buckets).cast("string"),
                )
            ),
        )
        .drop("_hot")
    )
    (
        routed.repartition(F.col("lt_table"))
        .write.mode("overwrite")
        .partitionBy("lt_table")
        .parquet(out_dir)
    )
    return {
        "total_rows": total,
        "hot_logtypes": n_hot,
        "threshold_rows": thr,
    }
