"""End-to-end pipeline plan: scan -> parse (one Arrow UDF) -> codegen
enrich -> route tag -> {partitioned sink write, per-sink aggregate counts}.

This is the declarative analog of redeye's per-line loop
(src/bin/redeye.rs:82-89), built so Catalyst keeps everything except the
single mapInArrow exchange inside whole-stage codegen:

  scan(parquet/iceberg)                  — columnar, pruned
  repartition(n)                        — optional, round-robin (even UDF load)
  mapInArrow(detok+parse+classify)      — the only Python hop
  enrich (case expressions)             — codegen; a source dim still joins
  tag sink (case expression)            — codegen
  write partitionBy(sink)               — single pass over the data
  groupBy(sink,bucket,keys).count()     — salted two-phase option
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.logparse import FORMAT_COMMON
from ..operators import aggregate as agg_op
from ..operators import enrich as enrich_op
from ..operators import parse_op
from ..operators import route as route_op
from ..sources.io import ParquetIO, TableIO


@dataclass
class PipelineConfig:
    fmt: str = FORMAT_COMMON
    num_partitions: int | None = None  # explicit repartition before the UDF
    carry_tokens: bool = False  # True only when the invariant is checked inline
    bucket_granularity: str = "hour"
    salt_buckets: int = 16
    use_salted_agg: bool = True
    routes: list = field(default_factory=lambda: list(route_op.DEFAULT_ROUTES))


def build_tagged(
    spark: SparkSession,
    raw: DataFrame,
    cfg: PipelineConfig,
    source_dim: DataFrame | None = None,
) -> DataFrame:
    """raw sequences -> parsed + enriched + sink-tagged DataFrame (lazy)."""
    # Columnar-source fast path: when `raw` is a bare local parquet scan
    # of the input shape (the common case — and the bench corpus), each
    # parse task reads its own files with pyarrow instead of paying
    # Spark's per-element JVM-row->Arrow conversion of the token column
    # (measured ~2x the parse kernel at 2 cores). Identical output rows;
    # anything else (streaming, filtered, in-memory, non-local, explicit
    # num_partitions request) stays on the general scan->parse path.
    files = None
    if cfg.num_partitions is None:
        files = parse_op.parquet_scan_files(raw)
    if files:
        parsed = parse_op.parse_sequence_files(
            spark, files, fmt=cfg.fmt, carry_tokens=cfg.carry_tokens
        )
    else:
        parsed = parse_op.parse_sequences(
            raw, fmt=cfg.fmt, carry_tokens=cfg.carry_tokens, num_partitions=cfg.num_partitions
        )
    # Static dims (status class, ua family) are deterministic functions
    # of the row — computed as codegen expressions (value-identical to
    # the broadcast joins, see enrich_expr) instead of paying two
    # AQE broadcast-stage latencies per action. A real tabular dim
    # (source_dim) still joins.
    enriched = enrich_op.enrich_expr(parsed)
    if source_dim is not None:
        enriched = enrich_op.enrich(enriched, None, None, source_dim)
    return route_op.tag_routes(enriched, cfg.routes)


# Writer tuning for the events sink (measured at 2 cores / 1.2M rows:
# ~24 s -> ~21 s for the write job): columns that are unique-ish per row
# BY CONSTRUCTION (ids, raw message, per-event timestamps, hosts, byte
# counts) gain nothing from parquet dictionary encoding — the writer
# builds a dictionary per column chunk only to fall back to plain — and
# the default 1 MB page granularity spends measurable CPU on page
# flush/headers for wide rows. Dictionaries stay ON where values repeat:
# method, protocol, status_code, source, ua, version, error_kind, and the
# URLs (turning off requested_url/uri's alone raised the sink's bytes/row
# ~6% on a 160k-row combined-format corpus).
EVENTS_WRITER_OPTIONS = {
    **{
        f"parquet.enable.dictionary#{c}": "false"
        for c in (
            "doc_id", "message", "timestamp_str", "timestamp",
            "remote_host", "content_length",
        )
    },
    "parquet.page.size": str(4 * 1024 * 1024),
    "parquet.page.row.count.limit": "200000",
    # page-level CRC32s are optional parquet metadata that Spark's
    # reader does not verify by default; computing them on every
    # page of a 100+ MB/task stream is pure writer CPU (measured:
    # ~2 s of a 15 s 2-core write job, stable across runs)
    "parquet.page.write-checksum.enabled": "false",
}


def _on_key(df: DataFrame, key: dict) -> DataFrame:
    for k, v in key.items():
        df = df.filter(F.col(k) == v)
    return df


def commit_unit(
    spark: SparkSession,
    tagged: DataFrame,
    io: TableIO,
    cfg: PipelineConfig,
    events_table: str,
    agg_table: str,
    key: dict,
) -> dict:
    """Commit one unit — a whole run (key={}) or a checkpoint chunk
    (key={"chunk_id": c}) — and return its rows per sink: ONE pass parses
    and writes the events (the per-sink counters ride that same job as
    Observation metrics), then a cheap column-pruned pass over the
    committed events writes the unit's aggregate counts. A keyed unit
    overwrites only its own key partitions of both tables, so a rerun of
    a half-written chunk replaces rather than duplicates."""
    # No persist: the committed events table IS the reuse point. The parse
    # UDF runs exactly once (the sink write); the aggregate pass re-reads
    # the columnar sink with column pruning (5 narrow columns), which at
    # any scale beats caching the full wide stream on-heap.
    tagged = tagged.withColumns({k: F.lit(v) for k, v in key.items()})
    mode = "overwrite_partitions" if key else "overwrite"
    # Per-sink counters ride the sink-write job itself via df.observe —
    # zero extra jobs (previously a third job re-read the agg table to
    # sum them). Observation aggregates can't groupBy, but the route
    # list is a static config, so one conditional sum per route (+ one
    # for NULL sinks: a non-total custom route list leaves unmatched
    # rows sink=NULL, and they ARE written) is exact and bounded.
    # Guarded to the Parquet/ORC v1 write path: obs.get has no timeout,
    # and CollectMetrics delivery through a DataFrameWriterV2 command
    # (IcebergIO) is unverified in this sandbox — there the counters
    # fall back to a groupBy over the committed table.
    from pyspark.sql import Observation

    route_names = [r.name for r in (cfg.routes or route_op.DEFAULT_ROUTES)]
    use_observe = isinstance(io, ParquetIO)
    if use_observe:
        obs = Observation("route_metrics")
        tagged = tagged.observe(
            obs,
            *[
                F.sum((F.col("sink") == n).cast("long")).alias(n)
                for n in route_names
            ],
            F.sum(F.col("sink").isNull().cast("long")).alias("_null_sink"),
        )
    io.write(tagged, events_table, mode=mode, partition_by=[*key, "sink"],
             options=EVENTS_WRITER_OPTIONS)

    # The aggregate pass reads 4 narrow columns of the committed events
    # table — a few % of its file bytes after pruning. The session's
    # scan-split size is tuned for the parse stage (small splits smooth
    # UDF waves); applying it here just multiplies per-task overhead
    # (measured: 91 tasks to read 2.2 MB of pruned columns at 2 cores,
    # 2.65 s). Large sequential splits are the right shape for a narrow
    # columnar re-read at any scale (guide §6), so pin 128 MB around
    # this pass and restore the caller's value after.
    # Also: the read-back passes the writer's schema (skipping the
    # footer-sampling inference job), and AQE is off for this one pass —
    # its shuffle carries group-cardinality partial counts (bounded by
    # the key space, never corpus-sized) over fixed 128 MB scan splits,
    # so runtime re-planning buys nothing and each AQE stage otherwise
    # costs an extra job boundary per run.
    _SPLIT_KEY = "spark.sql.files.maxPartitionBytes"
    _AQE_KEY = "spark.sql.adaptive.enabled"
    prev_split = spark.conf.get(_SPLIT_KEY)
    prev_aqe = spark.conf.get(_AQE_KEY)
    spark.conf.set(_SPLIT_KEY, str(128 * 1024 * 1024))
    spark.conf.set(_AQE_KEY, "false")
    try:
        events_back = _on_key(io.read(spark, events_table, schema=tagged.schema), key)
        counts = agg_op.salted_counts(events_back, cfg.bucket_granularity, cfg.salt_buckets) \
            if cfg.use_salted_agg else agg_op.sink_counts(events_back, cfg.bucket_granularity)
        counts = counts.withColumns({k: F.lit(v) for k, v in key.items()})
        io.write(counts, agg_table, mode=mode, partition_by=list(key) or None)
    finally:
        spark.conf.set(_SPLIT_KEY, prev_split)
        spark.conf.set(_AQE_KEY, prev_aqe)

    if use_observe:
        metrics = obs.get  # available: the sink write was the action
        # contract preserved from the agg-derived counters: only sinks
        # actually PRESENT appear (zero-count routes omitted, NULL-sink
        # rows reported under None like a groupBy would)
        per_sink = {
            n: int(metrics[n]) for n in route_names if int(metrics[n] or 0) > 0
        }
        if int(metrics["_null_sink"] or 0) > 0:
            per_sink[None] = int(metrics["_null_sink"])
        return per_sink
    # a keyed agg table holds every unit's partial counts: sum this one's
    return {
        r["sink"]: r["n"]
        for r in _on_key(io.read(spark, agg_table), key)
        .groupBy("sink").agg(F.sum("n").alias("n")).collect()
    }


def row_totals(per_sink: dict) -> dict:
    """rows_in / rows_ok / rows_err from a unit's rows per sink."""
    rows_in = sum(per_sink.values())
    rows_err = per_sink.get(route_op.DEAD_LETTER, 0)
    return {"rows_in": rows_in, "rows_ok": rows_in - rows_err, "rows_err": rows_err}


@dataclass
class PipelineResult:
    rows_in: int
    rows_ok: int
    rows_err: int
    sink_rows: dict[str, int]
    wall_sec: float


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    io: TableIO,
    cfg: PipelineConfig | None = None,
    source_dim: DataFrame | None = None,
    events_table: str = "events",
    agg_table: str = "agg_counts",
) -> PipelineResult:
    """Execute the full plan as one `commit_unit`: a sink write that
    parses once, then an aggregate pass over the committed events."""
    cfg = cfg or PipelineConfig()
    t0 = time.monotonic()
    tagged = build_tagged(spark, raw, cfg, source_dim)
    per_sink = commit_unit(spark, tagged, io, cfg, events_table, agg_table, key={})
    return PipelineResult(**row_totals(per_sink), sink_rows=per_sink,
                          wall_sec=time.monotonic() - t0)
