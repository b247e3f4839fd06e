"""The three benchmark workloads.

Each workload drives the public ``load_pipeline`` -> ``run_pipeline``
path with benchmark-owned pipeline documents (``pipelines/``) over
inputs generated from the seed.  A *step* is one timed pipeline run
(its destination write included) followed by a timed read-back
pipeline of what it wrote and an untimed correctness check.

* ``sql_star_etl``: SQL-only star-schema ETL into partitioned parquet.
  Most of its time is Spark execution and the file write; almost none
  is stage construction, so an ``operators`` or ``delta`` change should
  leave it unchanged.
* ``operator_curation``: declarative operator stages (exact dedup,
  n-gram decontamination, scoring, PII, chunking, packing) over a
  corpus with injected duplicates and benchmark leaks; dominated by the
  operator stages, their construction and their py4j traffic.
* ``delta_upsert_log``: a sequence of keyed upserts into a fresh
  month-partitioned Delta table, each followed by a read-back through a
  ``delta`` source; the only workload that writes and then reads the
  same data, and the sequence crosses the 10-commit checkpoint.
"""

from __future__ import annotations

import contextlib
import json
import shutil
import sys
import time
from pathlib import Path

import numpy as np

import checks
import gen
from spans import LAYERS, JobReader, Tracer, attribute_jobs, compute_self_times, stage_totals

HERE = Path(__file__).resolve().parent
PIPELINES = HERE / "pipelines"
EXPECTED_HASHES = HERE / "expected_hashes.json"
# a file workload's read-back is short (0.3-0.5 s): several reads per
# step give its median enough samples
READS_PER_STEP = 4


def cpu_steal_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot: time the
    hypervisor ran other guests while this one's CPUs wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])  # guest time is counted in user time


class Workload:
    name = ""
    # the run loop may stop only between units (a Delta sequence)
    unit_done = True
    # untimed steps after the cold run: JIT compilation and Python
    # worker start-up settle before timing (measured: the star ETL's
    # step time falls for about four steps after the first run)
    warmup_steps = 0
    # timed steps a run makes even when --seconds has passed, so that a
    # slow minute does not leave a median of one or two samples
    min_steps = 1

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer | None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.data = work / "data"
        self.out = work / "out"
        self.tracer = tracer
        self.jobs = JobReader(spark) if tracer else None
        self.run_s: list[float] = []  # untraced timed runs
        self.traced_run_s: list[float] = []
        self.read_s: list[float] = []
        # share of the CPUs' time the hypervisor stole during each sample
        self.run_steal: list[float] = []
        self.read_steal: list[float] = []
        self.written = 0  # bytes the destination wrote during timed runs
        self.reference = 0  # the same data as one parquet file
        self.attempted = 0
        self.failed = 0
        self.layer_rows: list[dict] = []
        self.state: dict = {}  # Delta log state after the latest commit

    # -- pipeline calls, optionally traced ------------------------------
    def _run(self, doc: str, params: dict, traced: bool, root: str,
             collect: bool = False):
        """Load and run one pipeline document, and collect its result to
        Arrow when ``collect``.  Returns (result, (seconds, steal share),
        root span)."""
        from aqueducts_spark import CollectingTracker, load_pipeline, run_pipeline

        tr = self.tracer if traced else None

        def span(layer, label=""):
            return tr.span(layer, label) if tr else contextlib.nullcontext()

        steal0 = cpu_steal_ticks()
        t0 = time.perf_counter()
        with span(root) as root_span:
            with span("config", "load_pipeline"):
                pipeline = load_pipeline(PIPELINES / doc, params)
            with span("pipeline", "run_pipeline"):
                result = run_pipeline(self.spark, pipeline, CollectingTracker())
            if collect:
                with span("collect", "toArrow"):
                    result = result.result.toArrow()
        seconds = time.perf_counter() - t0
        steal, total = (b - a for a, b in zip(steal0, cpu_steal_ticks()))
        return result, (seconds, steal / total if total else 0.0), root_span

    # -- hooks ------------------------------------------------------------
    def prepare(self) -> None:
        """Generate inputs and expected results (outside every timing)."""

    def cold(self) -> None:
        """The first, cold run (part of set-up time)."""
        self.step(traced=False, timed=False)

    def warm_up(self) -> None:
        for _ in range(self.warmup_steps):
            self.step(traced=False, timed=False)

    def step(self, traced: bool, timed: bool = True) -> None:
        raise NotImplementedError

    # -- bookkeeping ---------------------------------------------------
    def _checked(self, fn) -> None:
        self.attempted += 1
        try:
            fn()
        except Exception as exc:  # any failure of a run counts against it
            self.failed += 1
            print(f"[{self.name}] step failed: {type(exc).__name__}: {exc}",
                  file=sys.stderr)

    def _record(self, run: tuple, reads: list[tuple], traced: bool, timed: bool) -> None:
        """Keep the (seconds, steal share) samples of a timed step."""
        if not timed:
            return
        if traced:
            self.traced_run_s.append(run[0])
            return
        self.run_s.append(run[0])
        self.run_steal.append(run[1])
        for seconds, steal in reads:
            self.read_s.append(seconds)
            self.read_steal.append(steal)

    def _layers(self, roots: list, extra: dict) -> None:
        """Per-layer metrics of one traced step (``roots``: its root spans)."""
        tr = self.tracer
        spans = []
        for root in roots:
            sub = tr.subtree(root)
            compute_self_times(sub, root)
            spans += sub
        jobs, stages = self.jobs.jobs_after(self._last_job)
        attribute_jobs(spans, jobs)

        def of(layer, label=None):
            return [s for s in spans if s.layer == layer and (label is None or s.label in label)]

        def self_s(ss):
            return sum(s.self_s for s in ss)

        def subtree_jobs(ss):
            out = []
            for s in ss:
                for t in tr.subtree(s):
                    out += t.jobs
            return out

        ops = of("operators")
        op_stats = stage_totals([j for s in ops for j in s.jobs], stages)
        all_stats = stage_totals(jobs, stages)
        wall = sum((r.end_ns - r.start_ns) / 1e9 for r in roots)
        row = {
            "config.load_s": self_s(of("config")),
            "functions.register_s": self_s(of("functions")),
            "functions.py4j_calls": sum(s.py4j for s in of("functions")),
            "sources.register_s": self_s(of("sources")),
            "sources.jobs": len(subtree_jobs(of("sources"))),
            "stages.build_self_s": self_s(of("stages")),
            "stages.eager_jobs": len(subtree_jobs(of("stages"))),
            "stages.py4j_calls": sum(s.py4j for s in of("stages")),
            "operators.build_s": self_s(ops),
            "operators.jobs": len([j for s in ops for j in s.jobs]),
            "operators.py4j_calls": sum(s.py4j for s in ops),
            "operators.run_minus_cpu_s": (op_stats.run_ms / 1e3 - op_stats.cpu_ns / 1e9),
            "pipeline.self_s": self_s(of("pipeline")),
            "pipeline.cached_stages": sum(1 for s in of("stages") if s.attrs.get("cached")),
            "destinations.write_s": self_s(of("destinations")),
            "destinations.jobs": len(subtree_jobs(of("destinations"))),
            "delta.commit_s": self_s(of("delta", ("append", "upsert", "replace"))),
            "delta.read_s": self_s(of("delta", ("read",))),
            "spark.jobs": len(jobs),
            "spark.tasks": all_stats.tasks,
            "spark.task_run_s": all_stats.run_ms / 1e3,
            "spark.task_cpu_s": all_stats.cpu_ns / 1e9,
            "spark.run_minus_cpu_s": all_stats.run_ms / 1e3 - all_stats.cpu_ns / 1e9,
            "spark.gc_s": all_stats.gc_ms / 1e3,
            "spark.shuffle_read_bytes": all_stats.shuffle_read,
            "spark.shuffle_write_bytes": all_stats.shuffle_write,
            "spark.spill_bytes": all_stats.spill,
            "spark.input_bytes": all_stats.input_bytes,
            "spark.output_bytes": all_stats.output_bytes,
            "py4j.calls": sum(s.py4j for s in spans),
            "trace.wall_s": wall,
            "trace.self_sum_s": sum(s.self_s for s in spans),
            **{f"share.{layer}": self_s(of(layer)) / wall for layer in LAYERS},
            **extra,
        }
        self.layer_rows.append(row)

    def _file_step(self, doc: str, dest: Path, check, traced: bool, timed: bool) -> None:
        """Run a pipeline with a parquet file destination into an empty
        ``dest``, then read it back and ``check`` every read: once in a
        traced step (like a Delta step), READS_PER_STEP times otherwise."""
        shutil.rmtree(dest, ignore_errors=True)

        def body():
            _, run, root = self._run(doc, self.params, traced, "run")
            written, n_files = checks.data_files(dest)
            roots, reads = [root], []
            for _ in range(1 if traced else READS_PER_STEP):
                table, read, root = self._run("readback_parquet.yml",
                                              {"location": str(dest)},
                                              traced, "read", collect=True)
                check(table)
                roots.append(root)
                reads.append(read)
            self._record(run, reads, traced, timed)
            if timed:
                self.written += written
                self.reference += checks.parquet_bytes(table)
            if traced:
                self._layers(roots, {"destinations.output_bytes": written,
                                     "destinations.output_files": n_files})

        self._checked(body)

    def begin_tracing(self) -> None:
        """Mark where a traced step's Spark jobs start."""
        self._last_job = self.jobs.max_job_id()


class StarEtl(Workload):
    name = "sql_star_etl"
    warmup_steps = 4

    def prepare(self) -> None:
        gen.make_star(np.random.default_rng(self.seed), self.data)
        self.params = {"data_dir": str(self.data), "out_dir": str(self.out)}
        text = (PIPELINES / "sql_star_etl.yml").read_text()
        from aqueducts_spark.config.templating import substitute_params

        self.expected = checks.duckdb_pipeline(substitute_params(text, self.params))

    def step(self, traced: bool, timed: bool = True) -> None:
        self._file_step("sql_star_etl.yml", self.out / "star", self.check, traced, timed)

    def check(self, table) -> None:
        checks.compare_tables(table, self.expected, ["side", "party_key", "yr", "mon"],
                              float_tol=0.011)


class OperatorCuration(Workload):
    name = "operator_curation"
    # measured: the step time falls by a quarter over the first two
    # warm steps
    warmup_steps = 2
    min_steps = 4

    def prepare(self) -> None:
        path, injected = gen.make_documents(np.random.default_rng(self.seed), self.data)
        import pyarrow.parquet as pq

        self.input_ids = set(pq.read_table(path, columns=["doc_id"]).column(0).to_pylist())
        self.exact_groups = injected["exact_groups"]
        self.params = {"data_dir": str(self.data), "out_dir": str(self.out)}
        recorded = json.loads(EXPECTED_HASHES.read_text()) if EXPECTED_HASHES.exists() else {}
        # seeds without a recorded hash are held to the cold run's hash
        self.expected_hash = recorded.get(str(self.seed))
        self.hashes: list[str] = []

    def step(self, traced: bool, timed: bool = True) -> None:
        self._file_step("operator_curation.yml", self.out / "curated", self.check,
                        traced, timed)

    def check(self, table) -> None:
        digest = checks.table_hash(table)
        self.hashes.append(digest)
        want = self.expected_hash or self.hashes[0]
        if digest != want:
            raise checks.CheckFailed(f"output hash {digest[:12]} != expected {want[:12]}")
        checks.check_curation(table, self.input_ids, self.exact_groups)


class DeltaUpsertLog(Workload):
    """One unit is a sequence: copy the freshly written base table, then
    upsert every batch in order, reading the table back after each
    commit."""

    name = "delta_upsert_log"

    def prepare(self) -> None:
        self.base_src, self.batches = gen.make_delta_inputs(
            np.random.default_rng(self.seed), self.data)
        self.expected = checks.delta_model_states(self.base_src, self.batches, "o_orderkey")
        self.batch_bytes = [p.stat().st_size for p in self.batches]
        self.base_table = self.out / "base_table"
        self.table = self.out / "table"
        self.next_batch = len(self.batches)  # no sequence open

    def cold(self) -> None:
        # the fresh base table is written through the pipeline (append),
        # then one upsert and one read-back warm the write and read paths
        def body():
            self._run("delta_upsert.yml", {"batch": str(self.base_src),
                                           "table": str(self.base_table),
                                           "operation": "append"}, False, "run")
        self._checked(body)
        self.step(traced=False, timed=False)
        self.next_batch = len(self.batches)  # timed sequences start fresh

    def step(self, traced: bool, timed: bool = True) -> None:
        if self.next_batch >= len(self.batches):
            shutil.rmtree(self.table, ignore_errors=True)
            shutil.copytree(self.base_table, self.table)
            self.log = checks.DeltaLogReader(self.table)
            self.log.advance()
            self.next_batch = 0
        k = self.next_batch
        self.next_batch += 1
        self.unit_done = self.next_batch >= len(self.batches)

        def body():
            before = checks.file_sizes(self.table)
            _, run, r1 = self._run("delta_upsert.yml", {"batch": str(self.batches[k]),
                                                        "table": str(self.table),
                                                        "operation": "upsert"}, traced, "run")
            written, n_files = checks.new_bytes(before, checks.file_sizes(self.table))
            state = self.log.advance()
            table, read, r2 = self._run("readback_delta.yml", {"location": str(self.table)},
                                        traced, "read", collect=True)
            checks.compare_tables(table, self.expected[k], ["o_orderkey"])
            self._record(run, [read], traced, timed)
            if timed:
                self.written += written
                self.reference += self.batch_bytes[k]
            self.state = state
            if traced:
                self._layers([r1, r2], {
                    "destinations.output_bytes": written,
                    "destinations.output_files": n_files,
                    "delta.bytes_written": written,
                    "delta.files_added": state["files_added"],
                    "delta.files_removed": state["files_removed"],
                    "delta.rewrite_frac": state["rewrite_frac"],
                })

        self._checked(body)


WORKLOADS = {w.name: w for w in (StarEtl, OperatorCuration, DeltaUpsertLog)}
