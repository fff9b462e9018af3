"""Seeded benchmark inputs and the expected outputs they must produce.

The inputs are written with the program's own generator
(``redeye_spark.sources.datagen.write_input_table``); the program only
ever sees the parquet table. The expected outputs come from the pandas
reference parser (``parse_lines_pandas``), run outside Spark on the lines
decoded from that same table, so a pipeline run is checked against an
implementation it does not share code paths with.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# One agg-table row is keyed by these columns (operators.aggregate.AGG_KEYS
# plus the sink and the hour bucket); the reference builds the same keys.
AGG_COLUMNS = ["sink", "bucket", "status_class", "method", "source"]
REF_BATCH_ROWS = 20_000


@dataclass
class Expected:
    rows: int
    sinks: dict[str, int]  # rows per sink name
    errors: dict[str, int]  # dead-letter rows per error_kind
    sources: dict[str, int]  # rows per source
    agg: dict[tuple, int]  # agg-table key -> n


def _sink_of(error_kind: pd.Series, status_class: pd.Series) -> pd.Series:
    # operators.route.DEFAULT_ROUTES, first match wins
    sink = pd.Series("sink_other", index=error_kind.index, dtype=object)
    sink[status_class.isin(["4xx", "5xx"])] = "sink_4xx5xx"
    sink[status_class == "3xx"] = "sink_3xx"
    sink[status_class == "2xx"] = "sink_2xx"
    sink[error_kind.notna()] = "dead_letter"
    return sink


def _reference_batch(lines: list, sources: list, fmt: str) -> pd.DataFrame:
    """Reference-parse one batch of lines; return its partial agg counts."""
    from redeye_spark.functions.logparse import parse_lines_pandas

    ref = parse_lines_pandas(pd.Series(lines, dtype="string"), fmt)
    status = ref["status_code"]
    status_class = pd.Series(None, index=ref.index, dtype=object)
    present = status.notna()
    in_range = present & (status >= 100) & (status < 600)
    status_class[present] = "unknown"
    status_class[in_range.fillna(False)] = (
        (status[in_range.fillna(False)] // 100).astype(int).astype(str) + "xx"
    )
    keys = pd.DataFrame({
        "sink": _sink_of(ref["error_kind"], status_class),
        "bucket": ref["timestamp"].dt.floor("h"),
        "status_class": status_class,
        "method": ref["method"].astype(object),
        "source": pd.Series(sources, dtype=object),
        "error_kind": ref["error_kind"].astype(object),
    })
    return keys.groupby(list(keys.columns), dropna=False).size().rename("n").reset_index()


def _none(v):
    return None if v is None or v is pd.NaT or (not isinstance(v, str) and pd.isna(v)) else v


def bucket_micros(v) -> int | None:
    """An hour bucket as UTC epoch microseconds (naive values are UTC)."""
    v = _none(v)
    if v is None:
        return None
    ts = pd.Timestamp(v)
    ts = ts.tz_localize("UTC") if ts.tzinfo is None else ts.tz_convert("UTC")
    return ts.value // 1000


def agg_key(row: dict) -> tuple:
    return tuple(bucket_micros(row[c]) if c == "bucket" else _none(row[c]) for c in AGG_COLUMNS)


def expected_outputs(path: str, fmt: str) -> Expected:
    """Decode the table's tokens back to lines and reference-parse them."""
    from redeye_spark.functions.tokens import detokenize_list_array

    table = pq.read_table(path, columns=["tokens", "source"])
    lines = detokenize_list_array(table.column("tokens").combine_chunks()).to_pylist()
    sources = table.column("source").to_pylist()
    jobs = [(lines[i:i + REF_BATCH_ROWS], sources[i:i + REF_BATCH_ROWS], fmt)
            for i in range(0, len(lines), REF_BATCH_ROWS)]
    counts = pd.concat([_reference_batch(*j) for j in jobs], ignore_index=True)
    keyed = counts.groupby(AGG_COLUMNS + ["error_kind"], dropna=False)["n"].sum().reset_index()
    agg: dict[tuple, int] = {}
    for row in keyed.to_dict("records"):
        k = agg_key(row)
        agg[k] = agg.get(k, 0) + int(row["n"])
    errors = keyed[keyed["error_kind"].notna()].groupby("error_kind")["n"].sum()
    return Expected(
        rows=len(lines),
        sinks={k: int(v) for k, v in counts.groupby("sink")["n"].sum().items()},
        errors={k: int(v) for k, v in errors.items()},
        sources={k: int(v) for k, v in pd.Series(sources).value_counts().items()},
        agg=agg,
    )


def committed_sinks(events_dir: str) -> tuple[dict[str, int], dict[str, int]]:
    """(rows per sink, dead-letter rows per error_kind) of a committed
    events table, read from the parquet files outside Spark. Works for
    both ``sink=`` and ``chunk_id=/sink=`` partition layouts."""
    sinks: dict[str, int] = {}
    errors: dict[str, int] = {}
    for f in glob.glob(os.path.join(events_dir, "**", "*.parquet"), recursive=True):
        sink = next(p[5:] for p in f.split(os.sep) if p.startswith("sink="))
        pf = pq.ParquetFile(f)
        sinks[sink] = sinks.get(sink, 0) + pf.metadata.num_rows
        if sink == "dead_letter":
            kinds = pf.read(columns=["error_kind"]).column(0).to_pylist()
            for k in kinds:
                errors[k] = errors.get(k, 0) + 1
    return {k: v for k, v in sinks.items() if v}, errors


def agg_from_frame(df: pd.DataFrame) -> dict[tuple, int]:
    out: dict[tuple, int] = {}
    for row in df.to_dict("records"):
        k = agg_key(row)
        out[k] = out.get(k, 0) + int(row["n"])
    return out


def committed_agg(agg_dir: str) -> dict[tuple, int]:
    """The committed aggregate table, read outside Spark."""
    files = glob.glob(os.path.join(agg_dir, "**", "*.parquet"), recursive=True)
    if not files:
        return {}
    table = pa.concat_tables([pq.read_table(f, columns=AGG_COLUMNS + ["n"]) for f in files])
    return agg_from_frame(table.to_pandas())


def table_rows(path: str) -> int:
    """Rows of a parquet table directory, from the file footers."""
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(f))


def kernel_lines(path: str, limit: int | None = None) -> pa.ListArray:
    """The token column of the corpus (first ``limit`` rows)."""
    toks = pq.read_table(path, columns=["tokens"]).column("tokens").combine_chunks()
    return toks if limit is None else toks.slice(0, min(limit, len(toks)))


def skew(values: list[int]) -> float:
    return float(max(values) / np.mean(values)) if values else 0.0
