"""The parse operator: tokenized sequences -> parsed events.

One mapInArrow exchange does detokenize + regex parse + error classify
(Arrow-batched; the only Python hop in the whole plan — everything before
it is a columnar scan, everything after is JVM-side Catalyst). This
lifts the reference's per-line loop (src/bin/redeye.rs:82-89) into a
single vectorized distributed operator.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.logparse import FORMAT_COMMON, parse_lines
from ..functions.tokens import detokenize, tokens_equal
from ..schema import parsed_schema


def parse_sequences(
    df: DataFrame,
    fmt: str = FORMAT_COMMON,
    carry_tokens: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, tokens, n_tok, source) -> parsed-event rows.

    num_partitions: explicit round-robin repartition BEFORE the UDF so the
    Python workers see even batches regardless of input-file skew (north
    rule: explicit repartitioning). Round-robin, not by `source` — the
    hot-source key must never become the partitioning key of the parse
    stage.

    carry_tokens=False prunes the token array immediately after the parse:
    at 10^12 rows the raw bytes dominate width, and Catalyst cannot prune
    columns *through* a mapInArrow boundary, so the choice happens here.
    """
    if num_partitions:
        df = df.repartition(num_partitions)

    schema = parsed_schema(carry_tokens)
    names = [f.name for f in schema.fields]

    def fn(batches):
        import pyarrow as _pa

        from ..functions.logparse import parse_lines_arrow
        from ..functions.tokens import detokenize_list_array

        # One compute thread per worker: task-level parallelism already
        # fills the cores; 32 workers x default 32-thread arrow pools
        # oversubscribe catastrophically.
        _pa.set_cpu_count(1)
        for b in batches:
            if b.num_rows == 0:
                continue
            toks = b.column(b.schema.get_field_index("tokens"))
            # zero-copy byte carve from the list buffer: the pandas path
            # allocated one ndarray per row just to re-flatten them
            lines = detokenize_list_array(toks)
            cols = parse_lines_arrow(lines, fmt)
            arrays = [
                b.column(b.schema.get_field_index("doc_id")),
                b.column(b.schema.get_field_index("source")),
            ]
            if carry_tokens:
                arrays.append(toks)
            arrays.extend(cols.values())
            yield _pa.RecordBatch.from_arrays(arrays, names)

    return df.mapInArrow(fn, schema=schema)


def parquet_scan_files(df: DataFrame) -> list[str] | None:
    """If ``df`` is a bare, local, batch parquet scan of the
    RAW_SEQUENCES shape (no filters/projections/limits on top), return
    its data-file paths; else None.

    This powers the columnar-source fast path below: Spark's
    JVM-row -> Arrow conversion of the token column (one loop iteration
    per token element) costs more than the parse itself, and it is pure
    overhead when the source is already columnar parquet the Python
    worker could read directly. The detection is deliberately
    conservative — anything but the exact pattern falls back to the
    general ``parse_sequences`` path.
    """
    from ..schema import RAW_SEQUENCES

    if df.isStreaming:
        return None
    if [f.name for f in df.schema.fields] != [f.name for f in RAW_SEQUENCES.fields]:
        return None
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        if "Parquet" not in plan.relation().fileFormat().toString():
            return None
        files = list(df.inputFiles())
    except Exception:
        return None
    if len(files) > 200_000:
        # a millions-of-files table would make the driver-built paths
        # relation itself the bottleneck; the general scan path handles
        # that case (and compaction is the real fix)
        return None
    paths = []
    for f in files:
        if f.startswith("file://"):
            paths.append(f[len("file://"):])
        elif f.startswith("/"):
            paths.append(f)
        else:  # object store / non-local scheme: stay on the general path
            return None
    return paths or None


def parse_sequence_files(
    spark,
    files: list[str],
    fmt: str = FORMAT_COMMON,
    carry_tokens: bool = True,
    batch_rows: int = 10_000,
) -> DataFrame:
    """Columnar-source parse (guide §8 'read your own slice'): each task
    reads its parquet files with pyarrow and parses them, so the token
    arrays go parquet -> Arrow -> parse with ZERO JVM row
    materialization (measured: the JVM->Python round trip of the token
    column costs ~2x the parse kernel itself). Output rows are
    identical to scan -> parse_sequences; only the task boundary moves
    from byte splits to whole files (the corpus writer's ~100k-row
    chunks), which at any scale still gives several waves per slot."""
    schema = parsed_schema(carry_tokens)
    names = [f.name for f in schema.fields]
    # one file index per partition via a natively-partitioned range —
    # no exchange at all (a repartition here cost a 2-stage AQE job per
    # action; a python-RDD parallelize cost a pickled-RDD python round
    # trip per task — both measured and removed). The path list rides
    # the task binary (broadcast once per stage). Deterministic under
    # retry: each task re-reads the same file.
    file_list = list(files)
    pdf = spark.range(0, len(file_list), 1, len(file_list))

    def fn(batches):
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        from ..functions.logparse import parse_lines_arrow
        from ..functions.tokens import detokenize_list_array

        _pa.set_cpu_count(1)
        for b in batches:
            for path in (file_list[i] for i in b.column(0).to_pylist()):
                pf = _pq.ParquetFile(path)
                for rb in pf.iter_batches(
                    batch_size=batch_rows, columns=["doc_id", "tokens", "source"]
                ):
                    if rb.num_rows == 0:
                        continue
                    toks = rb.column(1)
                    lines = detokenize_list_array(toks)
                    cols = parse_lines_arrow(lines, fmt)
                    arrays = [rb.column(0), rb.column(2)]
                    if carry_tokens:
                        arrays.append(toks.cast(_pa.list_(_pa.int32())))
                    arrays.extend(cols.values())
                    yield _pa.RecordBatch.from_arrays(arrays, names)

    return pdf.mapInArrow(fn, schema=schema)


def parse_raw_lines(
    df: DataFrame,
    fmt: str = FORMAT_COMMON,
    carry_tokens: bool = False,
    num_partitions: int | None = None,
    validate: bool = False,
) -> DataFrame:
    """(doc_id, source, line) -> parsed-event rows in ONE Python hop.

    Semantically identical to ``tokenize_lines(df)`` piped through
    ``parse_sequences``: the tokenizer is one int32 token per UTF-8 byte,
    so ``detokenize(tokenize(line)) == line`` byte-for-byte and parsing
    the original line is exact. Fusing the two operators keeps the token
    array from ever crossing the JVM<->Python boundary mid-pipeline
    (guide §4: the tokenize->exchange->detokenize round trip shipped the
    fattest column twice); tokens are still built by the same
    ``tokens_list_array`` kernel when carried or validated.

    validate=True appends the token_ok invariant column
    (retokenize(message) == tokens, FIXTURES §3.1) in the same hop —
    the standalone ``validate_tokens`` pass ships the full parsed frame
    through Python a second time just to compare two byte buffers.
    """
    from pyspark.sql import types as T

    if num_partitions:
        df = df.repartition(num_partitions)

    schema = parsed_schema(carry_tokens)
    if validate:
        schema = T.StructType(
            schema.fields + [T.StructField("token_ok", T.BooleanType())]
        )
    names = [f.name for f in schema.fields]

    def fn(batches):
        import pyarrow as _pa

        from ..functions.logparse import parse_lines_arrow
        from ..functions.tokens import (
            tokens_equal_arrow,
            tokens_list_from_string_array,
        )

        _pa.set_cpu_count(1)
        for b in batches:
            if b.num_rows == 0:
                continue
            lines = b.column(b.schema.get_field_index("line"))
            cols = parse_lines_arrow(lines, fmt)
            arrays = [
                b.column(b.schema.get_field_index("doc_id")),
                b.column(b.schema.get_field_index("source")),
            ]
            toks = None
            if carry_tokens or validate:
                toks = tokens_list_from_string_array(lines)
            if carry_tokens:
                arrays.append(toks)
            arrays.extend(cols.values())
            if validate:
                arrays.append(
                    _pa.array(tokens_equal_arrow(cols["message"], toks))
                )
            yield _pa.RecordBatch.from_arrays(arrays, names)

    return df.mapInArrow(fn, schema=schema)


def validate_tokens(parsed: DataFrame) -> DataFrame:
    """Append token_ok: retokenize(message) == tokens (FIXTURES §3.1).

    redeye guarantees message == trimmed input line (parser.rs:165,306),
    so for pre-trimmed generator lines this must hold for every row,
    including dead-letter rows (their message is the trimmed raw line).
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(parsed.schema.fields + [T.StructField("token_ok", T.BooleanType())])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            b = b.reset_index(drop=True)
            b["token_ok"] = tokens_equal(b["message"], b["tokens"])
            yield b

    return parsed.mapInPandas(fn, schema=out_schema)


def logstash_struct() -> Column:
    """The Logstash JSON object as a Spark struct, field names exactly as
    redeye emits them (parser.rs:154-166,291-307): "@timestamp",
    "@version", nested request_headers with literal key "user-agent".

    to_json drops NULL fields by default, reproducing redeye's key
    omission for '-' values (parser.rs:522-528); the request_headers
    struct is NULLed when both children are absent so the whole key
    vanishes (complete_mapping, parser.rs:447-452).
    """
    return F.struct(
        F.col("remote_host"),
        F.col("ident"),
        F.col("remote_user"),
        F.col("timestamp_str").alias("@timestamp"),
        F.col("requested_url"),
        F.col("method"),
        F.col("requested_uri"),
        F.col("protocol"),
        F.col("status_code"),
        F.col("content_length"),
        F.when(
            F.col("referer").isNotNull() | F.col("user_agent").isNotNull(),
            F.struct(F.col("referer"), F.col("user_agent").alias("user-agent")),
        ).alias("request_headers"),
        F.col("version").alias("@version"),
        F.col("message"),
    )


def canonical_json_struct() -> Column:
    """The same Logstash JSON object with keys in SORTED (asciibetical)
    order at every nesting level — the jq -S canonical form the reference
    README itself uses to compare outputs (redeye's HashMap key order is
    nondeterministic, README.md:55-90 pipes through `jq -S`). to_json
    emits struct fields in declaration order and drops NULLs at every
    level, so declaring them sorted IS the canonicalization."""
    return F.struct(
        F.col("timestamp_str").alias("@timestamp"),
        F.col("version").alias("@version"),
        F.col("content_length"),
        F.col("ident"),
        F.col("message"),
        F.col("method"),
        F.col("protocol"),
        F.col("remote_host"),
        F.col("remote_user"),
        F.when(
            F.col("referer").isNotNull() | F.col("user_agent").isNotNull(),
            F.struct(F.col("referer"), F.col("user_agent").alias("user-agent")),
        ).alias("request_headers"),
        F.col("requested_uri"),
        F.col("requested_url"),
        F.col("status_code"),
    )


def to_canonical_json(parsed: DataFrame) -> DataFrame:
    """Canonical (sorted-key) JSON-lines projection of ok rows: the
    order-insensitive comparison form of the S2 sink, hashable across
    engines."""
    return parsed.filter(F.col("error_kind").isNull()).select(
        F.col("doc_id"), F.to_json(canonical_json_struct()).alias("json")
    )


def to_logstash_json(parsed: DataFrame) -> DataFrame:
    """JSON-lines sink projection (S2, src/bin/redeye.rs:86-87):
    one JSON string per ok row. Key order differs from the reference's
    HashMap order, which is nondeterministic anyway (README pipes through
    `jq -S`); comparisons must be key-order-insensitive."""
    return parsed.filter(F.col("error_kind").isNull()).select(
        F.col("doc_id"), F.to_json(logstash_struct()).alias("json")
    )
