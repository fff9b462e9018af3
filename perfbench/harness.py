"""The benchmark workloads and the session that runs them.

Both workloads read the same generated corpus: combined-format lines,
2% malformed, 60% from one hot source, as a bare parquet table.

* combined_fast  - ``run_pipeline``: the columnar fast path, where the
  parse hop (parquet read, detokenize, regex parse) is the largest layer.
* chunked_skewed - a fresh ``run_checkpointed(chunk_by="source",
  n_chunks=3)``: every chunk is a filtered scan, so it takes the general
  scan -> mapInArrow path, and commits its own sink and aggregate
  partitions; the hot source puts ~68% of the rows in one chunk.

Every run is checked against the reference expectations, the parse path
the workload must take and (chunked) the chunk assignment.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import corpus, probes

# Large enough that the parse hop is the largest layer of a combined_fast
# run, small enough that a chunked_skewed invocation stays near a minute.
ROWS = 160_000
FILES = 4  # input files; the fast path runs one parse task per file
FMT = "combined"
MALFORMED_RATE = 0.02
N_CHUNKS = 3
MIN_RUNS = 2
HEALTH_ROWS = 20_000


@dataclass(frozen=True)
class Workload:
    name: str
    # run_checkpointed (general parse path per chunk) instead of
    # run_pipeline (fast path)
    chunked: bool
    # Untimed runs before the first timed one. A fixed count puts every
    # invocation's timed runs at the same place on the JIT warm-up curve;
    # walls measured on one session keep falling for about this many runs.
    warm_runs: int


WORKLOADS = {w.name: w for w in [
    Workload("combined_fast", chunked=False, warm_runs=3),
    Workload("chunked_skewed", chunked=True, warm_runs=3),
]}


@dataclass
class Run:
    wall_s: float
    cpu_s: float
    problems: list[str]
    result: object = None
    execs: list = field(default_factory=list)
    fast_path: bool = False  # every sink write took the columnar fast path


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, wl: Workload, seed: int, work: str, inputs: str):
        self.wl, self.seed, self.work, self.inputs = wl, seed, work, inputs
        self.nproc = len(os.sched_getaffinity(0))
        self.slots = max(1, self.nproc // 2)
        self.heap_mb = max(1024, min(8192, probes.mem_total_mb() // 4))
        self.input = os.path.join(inputs, "table")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        self.spark = None

    # ------------------------------------------------------------- set-up

    def prepare_inputs(self) -> None:
        """Write the seed's corpus and its reference expectations once and
        reuse them: every later invocation on the seed, of either workload,
        reads the same ones."""
        from redeye_spark.sources.datagen import write_input_table

        if not os.path.isdir(self.inputs):
            tmp = f"{self.inputs}.{os.getpid()}"
            # FILES equal files: each fast-path parse task reads one file
            write_input_table(os.path.join(tmp, "table"), ROWS, fmt=FMT, seed=self.seed,
                              chunk=-(-ROWS // FILES), malformed_rate=MALFORMED_RATE)
            expected = corpus.expected_outputs(os.path.join(tmp, "table"), FMT)
            with open(os.path.join(tmp, "expected.pickle"), "wb") as f:
                pickle.dump(expected, f)
            try:
                os.rename(tmp, self.inputs)  # readers see all of it or none
            except OSError:  # another invocation got there first
                shutil.rmtree(tmp)
        with open(os.path.join(self.inputs, "expected.pickle"), "rb") as f:
            self.expected = pickle.load(f)
        if self.wl.chunked:
            srcs = sorted(self.expected.sources)  # checkpoint.chunk_values' order
            self.assignment = {c: srcs[c::N_CHUNKS] for c in range(N_CHUNKS)}
            self.chunk_rows = {c: sum(self.expected.sources[s] for s in v)
                               for c, v in self.assignment.items()}

    def start_session(self) -> float:
        """Start the session and load the inputs; returns its wall."""
        from redeye_spark import session
        from redeye_spark.plans.pipeline import PipelineConfig
        from redeye_spark.sources.io import ParquetIO

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Spark's scratch stays in the work directory rather than get_spark's
        # tmpfs default, because the benchmark writes only inside its checkout.
        # A run shuffles under 1 MB and spills nothing, so the disk under the
        # scratch does not bound it (pipeline.shuffle_bytes, .spill_bytes).
        # get_spark creates <tmpfs>/spark-local even when spark.local.dir is
        # given; this points that at the work directory too.
        session._TMPFS = self.work
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            f"perfbench-{self.wl.name}",
            master=f"local[{self.slots}]",
            shuffle_partitions=2 * self.slots,
            extra_conf={
                "spark.driver.memory": f"{self.heap_mb}m",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            },
        )
        self.raw = self.spark.read.parquet(self.input)
        wall = time.perf_counter() - t0
        self.cfg = PipelineConfig(fmt=FMT)
        self.io = ParquetIO(self.out)
        self.store = probes.StatusStore(self.spark)
        return wall

    def close(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    # -------------------------------------------------------------- a run

    def _call(self):
        from redeye_spark.plans.checkpoint import run_checkpointed
        from redeye_spark.plans.pipeline import run_pipeline

        if self.wl.chunked:
            return run_checkpointed(self.spark, self.raw, self.io, self.ckpt, self.cfg,
                                    n_chunks=N_CHUNKS, chunk_by="source")
        return run_pipeline(self.spark, self.raw, self.io, self.cfg)

    def run_once(self) -> Run:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)
        mark = self.store.watermark()
        cpu0 = probes.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result = self._call()
        except Exception as e:  # a raising run is a failed run, not a crash
            return Run(time.perf_counter() - t0, 0.0, [f"raised {type(e).__name__}: {e}"])
        wall = time.perf_counter() - t0
        cpu = probes.tree_cpu_s() - cpu0
        execs = self.store.executions_since(mark)
        run = Run(wall, cpu, [], result, execs)
        run.problems = self.check(run)
        return run

    def _kind(self, plan: str) -> str:
        if "InsertIntoHadoopFsRelationCommand" not in plan:
            return "other"
        return "agg" if self.io.location("agg_counts") in plan else "sink"

    def check(self, run: Run) -> list[str]:
        """Differences between a run's committed outputs and the reference."""
        exp, problems = self.expected, []
        sink_plans = [e["plan"] for e in run.execs if self._kind(e["plan"]) == "sink"]
        fast = [("Scan parquet" not in p and "MapInArrow" in p) for p in sink_plans]
        run.fast_path = bool(sink_plans) and all(fast)
        if not sink_plans or any(f == self.wl.chunked for f in fast):
            problems.append(f"parse path: fast={fast}, expected {not self.wl.chunked}")
        sinks, errors = corpus.committed_sinks(self.io.location("events"))
        if sinks != exp.sinks:
            problems.append(f"committed sinks {sinks} != {exp.sinks}")
        if errors != exp.errors:
            problems.append(f"dead-letter kinds {errors} != {exp.errors}")
        if self.wl.chunked:
            m = run.result
            assignment = {int(c): v for c, v in m.get("chunk_assignment", {}).items()}
            rows = {int(c): e["rows_in"] for c, e in m["chunks"].items()}
            if assignment != self.assignment or rows != self.chunk_rows:
                problems.append(f"chunks {assignment} {rows} != {self.assignment} {self.chunk_rows}")
            reported: dict = {}
            for e in m["chunks"].values():
                for s, n in e["sinks"].items():
                    reported[s] = reported.get(s, 0) + n
        else:
            reported = dict(run.result.sink_rows)
        # summing the committed rows per key is final_counts' re-aggregation
        agg = corpus.committed_agg(self.io.location("agg_counts"))
        if reported != exp.sinks:
            problems.append(f"reported sinks {reported} != {exp.sinks}")
        if sum(agg.values()) != exp.rows or agg != exp.agg:
            problems.append(f"aggregate table differs: {sum(agg.values())} rows vs {exp.rows}")
        return problems

    def check_final_counts(self) -> list[str]:
        """The chunked run's ``final_counts`` against the reference table
        (once per process: it costs a Spark job)."""
        from redeye_spark.plans.checkpoint import final_counts

        agg = corpus.agg_from_frame(final_counts(self.spark, self.io).toPandas())
        return [] if agg == self.expected.agg else ["final_counts differs from the reference"]

    def sink_bytes(self) -> int:
        return (corpus.dir_bytes(self.io.location("events"))
                + corpus.dir_bytes(self.io.location("agg_counts")))

    # ----------------------------------------------------------- phases

    def warm_and_time(self, seconds: float) -> tuple[list[Run], list[Run], float]:
        """(warm-up runs, timed runs, peak resident MiB of the process tree
        over the timed runs).

        The workload's ``warm_runs`` untimed runs come first; timed runs
        follow in a closed loop for ``seconds``, at least MIN_RUNS of
        them."""
        warm = [self.run_once() for _ in range(self.wl.warm_runs)]
        probes.reset_peak_rss()
        timed, t_end = [], time.perf_counter() + seconds
        while len(timed) < MIN_RUNS or time.perf_counter() < t_end:
            timed.append(self.run_once())
        return warm, timed, probes.peak_rss_mb()

    def health(self) -> float:
        """Single-core parse-kernel rate on a fixed slice of this corpus."""
        rate, _, self.pinned = probes.kernel_rates(
            corpus.kernel_lines(self.input, HEALTH_ROWS), FMT)
        return rate

    # ------------------------------------------------------------ tracing

    def _inputs(self):
        """The frames the pipeline parses: the raw table, or one filtered
        frame per chunk (the chunk's ``source IN (...)`` predicate)."""
        from pyspark.sql import functions as F

        if not self.wl.chunked:
            return [self.raw]
        return [self.raw.filter(F.col("source").isin(v)) for v in self.assignment.values()]

    def _prefix_walls(self) -> dict[str, float]:
        """One rung of the prefix ladder per layer, each to the noop sink,
        summed over the parsed frames."""
        from redeye_spark.operators import parse_op
        from redeye_spark.plans.pipeline import build_tagged

        cfg = self.cfg

        def identity(batches):
            yield from batches

        walls = {"scan": 0.0, "parse": 0.0, "tag": 0.0, "boundary": 0.0}
        for inp in self._inputs():
            files = parse_op.parquet_scan_files(inp)  # build_tagged's choice of path
            if files:
                parsed = parse_op.parse_sequence_files(self.spark, files, fmt=cfg.fmt,
                                                       carry_tokens=cfg.carry_tokens)
            else:
                parsed = parse_op.parse_sequences(inp, fmt=cfg.fmt, carry_tokens=cfg.carry_tokens)
            for name, df in [("scan", inp), ("parse", parsed),
                             ("tag", build_tagged(self.spark, inp, cfg)),
                             ("boundary", inp.mapInArrow(identity, inp.schema))]:
                t0 = time.perf_counter()
                noop(df)
                walls[name] += time.perf_counter() - t0
        return walls

    def _job_metrics(self, run: Run, mark) -> dict[str, float]:
        """Split a traced run's wall by the jobs the status store saw."""
        jobs = {j["id"]: j for j in self.store.jobs_since(mark)}
        kind_of = {}
        for e in run.execs:
            for j in e["jobs"]:
                kind_of[j] = self._kind(e["plan"])
        spans = {"sink": [], "agg": [], "other": []}
        for j in jobs.values():
            spans[kind_of.get(j["id"], "other")].append((j["start"], j["end"]))
        stages = [(kind_of.get(j["id"], "other"), s) for j in jobs.values() for s in j["stages"]]

        def total(key, kind=None):
            return sum(s[key] for k, s in stages if kind is None or k == kind)

        return {
            "pipeline.sink_job_s": probes.union_s(spans["sink"]),
            "pipeline.agg_job_s": probes.union_s(spans["agg"]),
            "pipeline.other_job_s": probes.union_s(spans["other"]),
            "pipeline.driver_s": run.wall_s - probes.union_s(sum(spans.values(), [])),
            "pipeline.jobs": len(jobs),
            "pipeline.tasks": total("tasks"),
            "pipeline.executor_cpu_s": total("cpu_s"),
            "pipeline.gc_s": total("gc_s"),
            "pipeline.shuffle_bytes": total("shuffle_bytes"),
            "pipeline.spill_bytes": total("spill_bytes"),
            "pipeline.output_bytes": total("output_bytes"),
            "sources.input_bytes": total("input_bytes", "sink"),
            "aggregate.shuffle_bytes": total("shuffle_bytes", "agg"),
        }

    def traced(self, reps: int) -> tuple[dict, list[Run]]:
        """Per-layer metrics: ``reps`` interleaved rounds of the prefix
        ladder, a traced full run, and (chunked) the fingerprint pass."""
        from redeye_spark.plans.checkpoint import input_fingerprints

        rounds, runs, fps = [], [], []
        for _ in range(reps):
            walls = self._prefix_walls()
            mark = self.store.watermark()
            run = self.run_once()
            runs.append(run)
            walls.update(self._job_metrics(run, mark))
            walls["pipeline.wall_s"] = run.wall_s
            walls["pipeline.tree_cpu_s"] = run.cpu_s
            rounds.append(walls)
            if self.wl.chunked:
                t0 = time.perf_counter()
                input_fingerprints(self.raw, N_CHUNKS, "source", self.assignment)
                fps.append(time.perf_counter() - t0)
        m = {k: _median([r[k] for r in rounds]) for k in rounds[0]}
        last = runs[-1]

        scan_self = 0.0 if last.fast_path else m["scan"]  # the fast path reads inside the hop
        hop = m["parse"] - scan_self
        tag = m["tag"] - m["parse"]
        write = m["pipeline.sink_job_s"] - m["tag"]
        parts = [scan_self, hop, tag, write, m["pipeline.agg_job_s"],
                 m["pipeline.other_job_s"], m["pipeline.driver_s"]]

        parse_rate, detok_rate, self.pinned = probes.kernel_rates(
            corpus.kernel_lines(self.input), FMT)
        kernel_core_s = self.expected.rows * (1 / parse_rate + 1 / detok_rate)

        sinks, errors = corpus.committed_sinks(self.io.location("events"))
        out = {
            "sources.scan_s": m["scan"],
            "sources.input_bytes": m["sources.input_bytes"],
            "functions.parse_rows_per_core_s": parse_rate,
            "functions.detok_rows_per_core_s": detok_rate,
            "functions.kernel_share": kernel_core_s / m["pipeline.tree_cpu_s"],
            "parse_op.fast_path": int(last.fast_path),
            "parse_op.hop_s": hop,
            "parse_op.boundary_s": m["boundary"] - m["scan"],
            "enrich.tag_s": tag,
            "pipeline.write_s": write,
            "aggregate.groups": corpus.table_rows(self.io.location("agg_counts")),
            "trace.layer_sum_frac": sum(max(0.0, p) for p in parts) / m["pipeline.wall_s"],
        }
        for k in ("ParseError", "TimestampParseError"):
            out[f"parse_op.rows_err.{k}"] = errors.get(k, 0)
        for k in ("dead_letter", "sink_2xx", "sink_3xx", "sink_4xx5xx", "sink_other"):
            out[f"route.rows.{k}"] = sinks.get(k, 0)
        for k, v in m.items():
            if k.startswith(("pipeline.", "aggregate.")):
                out[k] = v
        if self.wl.chunked:
            chunk_walls = [e["wall_sec"] for e in last.result["chunks"].values()]
            out.update({
                "checkpoint.fingerprint_s": _median(fps),
                "checkpoint.chunk_s_max": max(chunk_walls),
                "checkpoint.chunk_s_sum": sum(chunk_walls),
                "checkpoint.chunk_rows_skew": corpus.skew(
                    [e["rows_in"] for e in last.result["chunks"].values()]),
                "checkpoint.overhead_s": last.wall_s - sum(chunk_walls),
            })
        else:  # not a checkpointed run: nothing to measure
            out.update({k: 0.0 for k in ("checkpoint.fingerprint_s", "checkpoint.chunk_s_max",
                                          "checkpoint.chunk_s_sum", "checkpoint.chunk_rows_skew",
                                          "checkpoint.overhead_s")})
        return out, runs
