"""The benchmark's workloads.

Each workload builds its inputs from the seed (``generate``, repeatable),
hands them to the program (``register``), runs one timed pass
(``run_pass``), turns the pass into operations and checks outside the
timed region (``settle``), and gives a final verdict on its outputs
(``check``). Sizes are constants: a seed changes values,
never volumes, so runs with different seeds are comparable.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from . import inputs


@dataclass
class Op:
    name: str
    seconds: float
    error: str | None = None
    #: counted in the op_p50_ms / op_p90_ms sample (every op counts
    #: towards attempted and failed)
    latency: bool = True


@dataclass
class PassResult:
    wall_s: float
    ops: list[Op]
    info: dict = field(default_factory=dict)


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _failed_jobs(pipeline: str, runs: dict) -> list[Op]:
    """Every JobRun that did not succeed, as a named failed operation
    (``Engine.start`` raises nothing: status is the only signal)."""
    from crmint_spark.pipeline import Status

    return [
        Op(f"{pipeline}/{name}", 0.0, f"{r.status.value}: {r.error}")
        for name, r in runs.items()
        if r.status != Status.SUCCEEDED
    ]


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.checks: dict[str, bool] = {}
        #: pipeline name -> Pipeline, for the traced run's job spans
        self.pipelines: dict = {}

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def generate(self) -> None:
        """Build the seeded inputs (files and in-memory models) under
        ``inputs``."""
        raise NotImplementedError

    def register(self) -> None:
        """Hand the kept inputs to the program (tables, pipelines)."""

    def before_pass(self) -> None:
        pass

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def settle(self, res: PassResult) -> None:
        pass

    def check(self) -> dict[str, bool]:
        return self.checks

    def live_bytes(self) -> int:
        return 0


def _warehouse_live_bytes(root: str) -> int:
    """Parquet bytes of the current table versions (version archives,
    job history and other ``__*__`` metadata trees excluded)."""
    total = 0
    for entry in os.listdir(root):
        if entry.startswith("__"):
            continue
        for dirpath, dirs, files in os.walk(os.path.join(root, entry)):
            dirs[:] = [d for d in dirs if not d.startswith("__")]
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
    return total


# -- pipelines: ml_pipeline + bq_script on one engine ------------------------


class Pipelines(Workload):
    """The control-plane workload: one ``Engine`` (one warehouse, kept
    across passes as a scheduled deployment keeps it) running two kinds
    of scheduled pipeline in each pass:

    - ``bq_script``: two parallel branches, each a chain of
      ``BQScriptExecutor`` jobs with its own seeded constants, reading
      shared seeded base tables and writing tables of its own. Many small
      statements with writes beside reads, and the only concurrent
      ``PipelineRunner`` load. Its operations are its engine statements,
      timed by their ``INFORMATION_SCHEMA.JOBS`` start and end; they
      form the workload's latency sample.
    - ``ml_pipeline``: a compiled LOGISTIC_REG model with a GA4
      Measurement Protocol destination, the paper's core path. The
      quarterly training pipeline, then ``PREDICTIVE_RUNS`` daily
      predictive pipelines whose uploads land in a
      ``FileRecordingTransport``. Each pipeline run is one operation,
      counted and reported by name but kept out of the latency sample:
      two runs of two kinds per pass are too few for a percentile.
    """

    name = "pipelines"
    USERS = 6000
    EVENTS = 36000
    # one daily run per pass keeps a run of this workload near a minute
    PREDICTIVE_RUNS = 1
    ACCOUNTS = 3000
    TXNS = 4000
    BRANCHES = ("a", "b")
    SCRIPT_PIPELINE = "bq_script"

    def generate(self) -> None:
        self.sf = os.path.join(self.work, "inputs")
        inputs.write_events(self.sf, self.rng(1), self.EVENTS, self.USERS, signal=True)
        rng = self.rng(10)
        self.tables = inputs.script_tables(rng, self.ACCOUNTS, self.TXNS)
        self.params = {tag: inputs.script_params(rng) for tag in self.BRANCHES}
        self.expected = {
            tag: inputs.model_branch(self.tables, p) for tag, p in self.params.items()
        }

    def register(self) -> None:
        import pandas as pd

        from crmint_spark.catalog import load
        from crmint_spark.engine import Engine
        from crmint_spark.ml.compiler import MlModelConfig, Variable
        from crmint_spark.workers.transports import FileRecordingTransport

        load(self.spark, self.sf, "events").createOrReplaceTempView("events")
        self.transport_dir = os.path.join(self.work, "transport")
        self.engine = Engine(
            self.spark,
            os.path.join(self.work, "warehouse"),
            transport=FileRecordingTransport(self.transport_dir),
        )
        config = MlModelConfig(
            name="propensity",
            model_type="LOGISTIC_REG",
            variables=[
                Variable("view", "FEATURE", comparison="EQUAL", value="view"),
                Variable("click", "FEATURE", comparison="EQUAL", value="click"),
                Variable("signup", "FEATURE", comparison="EQUAL", value="signup"),
                Variable("purchase", "LABEL", comparison="EQUAL", value="purchase"),
            ],
            dataset="bench.models",
        )
        self.train, self.predict = self.engine.register_ml_model(config)
        self.output_table = "bench.models.propensity_output"

        cat = self.engine.catalog
        for tname, cols in self.tables.items():
            cat.write(self.spark.createDataFrame(pd.DataFrame(cols)), f"bench.base.{tname}")
        jobs = []
        for tag, params in self.params.items():
            ds = f"bench.{tag}"
            cat.write(cat.read("bench.base.accounts"), f"{ds}.work")
            prev = None
            for k, script in enumerate(inputs.branch_scripts("bench.base", ds, tag, params)):
                job = {
                    "name": f"{tag}{k}",
                    "worker_class": "BQScriptExecutor",
                    "params": [{"name": "script", "type": "sql", "value": script}],
                    "hash_start_conditions": (
                        [{"preceding_job_id": prev, "condition": "success"}] if prev else []
                    ),
                }
                jobs.append(job)
                prev = job["name"]
        self.engine.import_pipeline({"name": self.SCRIPT_PIPELINE, "jobs": jobs})
        self.pipelines = self.engine.pipelines
        self._seen_jobs: set[str] = set()
        self._settle_jobs()
        self.checksums: list[str] = []
        self.row_checks: list[tuple[int, int]] = []
        self.state_ok: list[bool] = []

    def before_pass(self) -> None:
        # the only state cleared between passes: the warehouse keeps its
        # versions and job history, as a scheduled deployment's would
        _rmtree(self.transport_dir)

    def run_pass(self) -> PassResult:
        ops: list[Op] = []
        t_pass = time.perf_counter()
        runs = self.engine.start(self.SCRIPT_PIPELINE)
        # the script run's operations are its statements, read back from
        # INFORMATION_SCHEMA.JOBS in settle(); a failed job counts too
        failed_scripts = _failed_jobs(self.SCRIPT_PIPELINE, runs)
        for name in [self.train] + [self.predict] * self.PREDICTIVE_RUNS:
            t0 = time.perf_counter()
            runs = self.engine.start(name)
            dt = time.perf_counter() - t0
            failed = _failed_jobs(name, runs)
            err = "; ".join(f"{f.name}: {f.error}" for f in failed) or None
            ops.append(Op(name, dt, err, latency=False))
        return PassResult(time.perf_counter() - t_pass, ops, {"failed_scripts": failed_scripts})

    def _settle_jobs(self) -> list:
        # the view is a snapshot of the job history: rebuild it per read
        view = self.engine.catalog.ensure_information_schema_view("bench.a", "JOBS")
        rows = self.spark.table(view).select(
            "job_id", "statement_type", "start_time", "end_time", "error_result"
        ).collect()
        new = [r for r in rows if r.job_id not in self._seen_jobs]
        self._seen_jobs.update(r.job_id for r in rows)
        return new

    def settle(self, res: PassResult) -> None:
        stmts = [
            Op(
                r.statement_type,
                (r.end_time - r.start_time).total_seconds(),
                r.error_result.message if r.error_result is not None else None,
            )
            for r in self._settle_jobs()
        ]
        failed_jobs = res.info.pop("failed_scripts")
        # a job that failed without a failing statement (a DECLARE, a
        # start condition) still counts as one failed operation
        n_failed_stmts = sum(1 for o in stmts if o.error)
        res.ops[:0] = stmts + failed_jobs[n_failed_stmts:]
        res.info["statements"] = len(stmts)
        # a failed pipeline can leave a table missing: a check that cannot
        # read its table fails, it never ends the run
        try:
            batches = self.engine.ctx.transport.read_batches()
            uploaded = sum(len(b) for b in batches)
            out = self.engine.catalog.read(self.output_table)
            rows = sorted(tuple(r) for r in out.collect())
        except Exception as e:
            res.info["check_error"] = f"{type(e).__name__}: {e}"[:300]
            self.row_checks.append((-1, 0))
            self.checksums.append(res.info["check_error"])
        else:
            self.row_checks.append((uploaded, self.PREDICTIVE_RUNS * len(rows)))
            self.checksums.append(hashlib.sha256(repr(rows).encode()).hexdigest())
            res.info.update(uploaded_rows=uploaded, batches=len(batches), output_rows=len(rows))
        try:
            self.state_ok.append(all(self._branch_state_ok(tag) for tag in self.BRANCHES))
        except Exception as e:
            res.info["check_error"] = f"{type(e).__name__}: {e}"[:300]
            self.state_ok.append(False)

    def _branch_state_ok(self, tag: str) -> bool:
        work_rows, summary_rows = self.expected[tag]
        cat = self.engine.catalog
        got_work = sorted(
            tuple(r) for r in cat.read(f"bench.{tag}.work").select("id", "seg", "bal", "n").collect()
        )
        got_sum = sorted(
            tuple(r)
            for r in cat.read(f"bench.{tag}.summary")
            .select("seg", "n_accounts", "total", "refunds")
            .collect()
        )
        # summary totals add up per-row cent differences: a looser bound
        return _rows_close(got_work, work_rows) and _rows_close(got_sum, summary_rows, 0.05)

    def check(self) -> dict[str, bool]:
        self.checks["bq_script_state_matches_model"] = bool(self.state_ok) and all(self.state_ok)
        self.checks["ml_transport_rows_match_output"] = bool(self.row_checks) and all(
            u == o and o > 0 for u, o in self.row_checks
        )
        self.checks["ml_output_checksum_stable"] = len(set(self.checksums)) == 1
        return self.checks

    def live_bytes(self) -> int:
        return _warehouse_live_bytes(self.engine.catalog.root)


def _rows_close(got: list[tuple], want: list[tuple], tol: float = 0.015) -> bool:
    """Equal row lists, floats to within ``tol``. Spark's ROUND(double)
    rounds half-up on Java's spelling of the double, the model on
    Python's, and the two spellings can differ in the last digits, so a
    rounded value may differ by one cent."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float):
                if a is None or not math.isclose(float(a), b, abs_tol=tol):
                    return False
            elif a != b:
                return False
    return True


# -- streaming_drain ---------------------------------------------------------


class StreamingDrain(Workload):
    """Three ``streaming_*`` registry entries, each an availableNow drain
    of a seeded NDJSON events drop; one operation per drain. The two
    pandas-state operators (``applyInPandasWithState``) and one built-in
    stateful aggregation beside them; the other three entries are left
    out for run time (README)."""

    name = "streaming_drain"
    USERS = 1500
    EVENTS = 15000
    ENTRIES = (
        "streaming_windowed_counts",
        "streaming_dedup_keys",
        "streaming_running_profile",
    )

    def generate(self) -> None:
        self.sf = os.path.join(self.work, "inputs")
        inputs.write_events(self.sf, self.rng(1), self.EVENTS, self.USERS)
        self.last: dict = {}

    def run_pass(self) -> PassResult:
        from crmint_spark.registry import QUERIES

        sc = self.spark.sparkContext
        ops: list[Op] = []
        t_pass = time.perf_counter()
        for name in self.ENTRIES:
            sc.setJobGroup(f"perfbench:drain:{name}", name)
            t0 = time.perf_counter()
            err = None
            try:
                df = QUERIES[name](self.spark, self.sf)
                df.count()
                self.last[name] = df
            except Exception as e:  # counted, never fatal
                err = f"{type(e).__name__}: {e}"[:300]
            ops.append(Op(name, time.perf_counter() - t0, err))
        sc.setJobGroup("perfbench", "perfbench")
        return PassResult(time.perf_counter() - t_pass, ops)

    def check(self) -> dict[str, bool]:
        import duckdb

        from crmint_spark.registry import ORACLES
        from tests.parity import compare

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.sf, 'events.parquet')}')"
        )
        for name in self.ENTRIES:
            ok = name in self.last
            if ok:
                try:
                    compare(self.last[name], con, ORACLES[name])
                except AssertionError:
                    ok = False
            self.checks[f"oracle:{name}"] = ok
        con.close()
        return self.checks


WORKLOADS = {w.name: w for w in (Pipelines, StreamingDrain)}
