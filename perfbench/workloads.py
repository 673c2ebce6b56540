"""The three workloads: what one pass runs and how its outputs are checked.

A workload generates its inputs from the seed (``prepare``), runs one
pass of operations against the engine (``run_pass``), and checks a
pass's outputs against independently computed results (``check``).
Every pass builds its plans from scratch and writes to a fresh output
directory, so nothing derived from the inputs is reused across passes.
"""

from __future__ import annotations

import contextlib
import io
import os

import checks
import gen

# Declared queries run by operator_suite: a cross-section of the bench
# suite chosen so a whole run fits the benchmark's time budget (see
# README.md). Plan-construct-heavy pipelines (compile_features over
# events, the per-class search expressions), the as-of operator, a
# scan-bound aggregate and three Arrow/Python kernels.
SUITE_QUERIES = (
    "cookie_feature_pipeline", "grid_search_cv", "asof_join_orders",
    "tpch_q1", "entropy_zlib", "gestalt_diff", "audio_pipeline",
)


class Workload:
    name = ""
    warmup_passes = 1
    nominal_pass_s = 1.0  # sets how many timed passes fit in --seconds

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed, self.smoke = work, seed, smoke
        self.in_dir = os.path.join(work, "in")
        self.input_rows = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark, tracer) -> None:
        """Per-session preparation that is not part of a pass."""

    def run_pass(self, spark, tracer, out: str) -> list[str | None]:
        """Run one pass writing under ``out``; returns, per operation,
        None or the error that made it fail."""
        raise NotImplementedError

    def check(self, out: str) -> list[list[str]]:
        """Problems found in each operation's outputs."""
        raise NotImplementedError


class Extract(Workload):
    """The extraction CLI over a seeded cookie-update table."""

    name = "extract"
    warmup_passes = 4  # pass time keeps falling until about the fifth pass
    nominal_pass_s = 6.5
    N_ENTITIES = 3000

    def prepare(self) -> None:
        n = 200 if self.smoke else self.N_ENTITIES
        tbl = gen.cookie_updates(self.seed, n)
        self.input_rows = tbl.num_rows
        self.path = gen.write_tables({"cookie_updates": tbl}, self.in_dir)["cookie_updates"]
        self.checker = checks.ExtractChecker(self.path, self.seed)

    def setup(self, spark, tracer) -> None:
        from cookieblock_consent_classifier_spark import cli

        self.cli = cli

    def run_pass(self, spark, tracer, out: str) -> list[str | None]:
        argv = ["--input", self.path, "--output", out, "--format", "libsvm", "--no-resume"]
        with contextlib.redirect_stdout(io.StringIO()):  # the CLI prints its stage metrics
            try:
                self.cli.main(argv)
            except Exception as exc:  # noqa: BLE001 - a failed run is a failed operation
                return [f"extract: {type(exc).__name__}: {exc}"]
        return [None]

    def check(self, out: str) -> list[list[str]]:
        return [self.checker.check(out)]


class OperatorSuite(Workload):
    """The declared bench queries, each built fresh and written as parquet."""

    name = "operator_suite"
    # a second warm-up pass did not narrow the run-to-run spread (README)
    warmup_passes = 1
    nominal_pass_s = 7.5
    SF = 0.01

    def prepare(self) -> None:
        tables = gen.suite_tables(self.seed, 0.001 if self.smoke else self.SF)
        self.paths = gen.write_tables(tables, self.in_dir)
        self.sf_dir = self.in_dir
        # rows of the tables each query scans, summed over the queries
        reads = {
            "cookie_feature_pipeline": ["events"], "grid_search_cv": ["embeddings"],
            "asof_join_orders": ["events", "orders"], "tpch_q1": ["lineitem"],
            "entropy_zlib": ["documents"], "gestalt_diff": ["events"], "audio_pipeline": [],
        }
        self.input_rows = sum(tables[t].num_rows for q in SUITE_QUERIES for t in reads[q])

    def setup(self, spark, tracer) -> None:
        import __spark_entry__ as entry
        from cookieblock_consent_classifier_spark import sinks

        self.entry, self.sinks = entry, sinks
        self.queries = entry.queries()
        missing = [q for q in SUITE_QUERIES if q not in self.queries]
        if missing:
            raise SystemExit(f"declared queries missing: {missing}")
        self.checker = checks.SuiteChecker(
            self.paths, entry.oracle_sql(), os.path.join(self.work, "tmp")
        )

    def run_pass(self, spark, tracer, out: str) -> list[str | None]:
        self.entry._PLAN_CACHE.clear()
        res: list[str | None] = []
        for q in SUITE_QUERIES:
            with tracer.span(f"query.{q}"):
                try:
                    df = self.queries[q](spark, self.sf_dir)
                    self.sinks.write_parquet(df, os.path.join(out, q))
                    res.append(None)
                except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                    res.append(f"{q}: {type(exc).__name__}: {str(exc)[:200]}")
        return res

    def check(self, out: str) -> list[list[str]]:
        probs = []
        for q in SUITE_QUERIES:
            try:
                got = checks.read_spark_parquet(os.path.join(out, q))
                probs.append(self.checker.check(q, got))
            except Exception as exc:  # noqa: BLE001 - an unreadable output fails the check
                probs.append([f"{q}: {type(exc).__name__}: {exc}"])
        return probs


class AsofFlagship(Workload):
    """As-of join + sessionize + windows + aggregate over large per-user groups."""

    name = "asof_flagship"
    warmup_passes = 1
    nominal_pass_s = 4.0
    N_EVENTS, N_USERS = 1_000_000, 2_000

    def prepare(self) -> None:
        n, users = (20_000, 50) if self.smoke else (self.N_EVENTS, self.N_USERS)
        tables = gen.flagship_tables(self.seed, n, users)
        self.input_rows = tables["events"].num_rows
        self.paths = gen.write_tables(tables, self.in_dir)
        self.want = checks.expected_flagship(
            self.paths["events"], self.paths["orders"], os.path.join(self.work, "tmp")
        )

    def run_pass(self, spark, tracer, out: str) -> list[str | None]:
        import bench
        from cookieblock_consent_classifier_spark import sinks

        try:
            with tracer.span("construct"):
                # the composite bench.py times, over in_dir/{events,orders}.parquet
                df = bench._flagship_at(spark, self.in_dir)
            sinks.write_parquet(df, os.path.join(out, "flagship"))
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            return [f"flagship: {type(exc).__name__}: {exc}"]
        return [None]

    def check(self, out: str) -> list[list[str]]:
        got = checks.read_spark_parquet(os.path.join(out, "flagship"))
        return [checks.check_flagship(got, self.want)]


WORKLOADS = {w.name: w for w in (Extract, OperatorSuite, AsofFlagship)}

