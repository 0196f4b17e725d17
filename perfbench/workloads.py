"""The benchmark's workloads: inputs, one timed operation, checks.

Each workload is a closed loop with one client: after set-up
(`make_inputs`, the session, `prime`) the runner calls `prepare`
(untimed), then `op` (timed), then `settle` (untimed) on what `op`
returned, and starts the next operation only after the previous one has
finished. `check` runs once over the settled outcomes, after the timed
phase and outside set-up.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import time
from pathlib import Path

import silver

RUN_DATE = "2023-10-01"


def _utime_tree(root: Path, stamp: float) -> None:
    for path in root.rglob("*.json"):
        os.utime(path, (stamp, stamp))


def files_written(roots, since: float) -> tuple[int, int]:
    """Parquet files (and their bytes) under `roots` modified since."""
    n = size = 0
    for root in roots:
        for path in root.rglob("*.parquet"):
            st = path.stat()
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


class Gold:
    """Seeded silver with 1% attendance churn → `registry.run_all
    (parallelism=8)` → `validate_gold` → the chrab and ews incremental
    refreshes.

    Set-up lands the silver and runs `full_build` for both facts (each
    with a state directory of its own: their snapshot names overlap),
    whose state and gold are kept as a pristine copy. Before every
    operation, untimed: state and incremental gold are restored from that
    copy, the attendance events are re-landed with the seeded churn,
    every silver file gets a new mtime (a fresh landing, so
    `read_collection` pays the schema inference a scheduled run pays)
    and the gold directory is emptied.
    """

    n_students = 10_000
    parallelism = 8

    def __init__(self, work: Path, seed: int, repo: Path):
        self.silver = work / "silver"
        self.gold = work / "gold"
        self.state = work / "state"
        self.incr_gold = work / "incr_gold"
        self.pristine = work / "pristine"
        self.refresh_roots = (self.state, self.incr_gold)
        self.output_roots = (self.gold, *self.refresh_roots)
        self.seed = seed

    def make_inputs(self) -> None:
        silver.write_silver(self.silver, self.n_students, self.seed)

    def prime(self, spark) -> None:
        """`full_build` of both maintained facts over the unchurned
        silver; the result is kept as the pristine copy."""
        for name, mod in zip(REFRESHED, _incremental()):
            mod.full_build(spark, str(self.silver), silver.SY,
                           str(self.state / name), str(self.incr_gold),
                           run_date=RUN_DATE)
        shutil.rmtree(self.pristine, ignore_errors=True)
        for root in self.refresh_roots:
            shutil.copytree(root, self.pristine / root.name)

    def prepare(self) -> None:
        for root in self.refresh_roots:
            shutil.rmtree(root, ignore_errors=True)
            shutil.copytree(self.pristine / root.name, root)
        silver.churn_attendance(self.silver, self.n_students, self.seed)
        _utime_tree(self.silver, time.time())
        shutil.rmtree(self.gold, ignore_errors=True)

    def op(self, spark, tracer) -> tuple:
        from api_to_amt_data_lake_spark.amt import registry, validate

        with tracer.span("phase.write", tag="write/run_all"):
            try:
                registry.run_all(spark, str(self.silver), str(self.gold),
                                 silver.SY, run_date=RUN_DATE,
                                 parallelism=self.parallelism)
            except RuntimeError:
                pass  # the views not written are counted by `check`
        with tracer.span("phase.validate", tag="validate/gold"):
            report = validate.validate_gold(spark, str(self.gold),
                                            silver.SY).collect()
        stats = {}
        with tracer.span("phase.refresh"):
            for name, mod in zip(REFRESHED, _incremental()):
                with tracer.span(f"amt.refresh.{name}",
                                 tag=f"refresh/{name}"):
                    try:
                        stats[name] = mod.refresh(
                            spark, str(self.silver), silver.SY,
                            str(self.state / name), str(self.incr_gold),
                            run_date=RUN_DATE)
                    except Exception as exc:  # noqa: BLE001 — counted
                        stats[name] = exc
        return report, stats

    def settle(self, spark, result: tuple) -> tuple:
        """The validation report, the views whose write committed, the
        refresh stats, and whether each fact was refreshed incrementally
        (no fall-back to `full_build`) to the same rows as the view in the
        full build over the churned silver (`exceptAll` empty both
        ways)."""
        from api_to_amt_data_lake_spark.amt import registry

        report, stats = result
        year = self.gold / str(silver.SY)
        written = {name for name in registry.VIEWS
                   if (year / name / "_SUCCESS").exists()}
        return report, written, stats, self._parity(spark, stats, written)

    def _parity(self, spark, stats: dict, written: set) -> dict:
        same = {}
        for name, mod in zip(REFRESHED, _incremental()):
            if (isinstance(stats[name], Exception)
                    or stats[name].get("full_build", True)
                    or mod.VIEW_NAME not in written):
                same[name] = False
                continue
            inc = mod.read_gold(spark, str(self.incr_gold), silver.SY)
            full = mod.CONTRACT.conform(spark.read.parquet(
                str(self.gold / str(silver.SY) / mod.VIEW_NAME)), spark)
            same[name] = (inc.exceptAll(full).isEmpty()
                          and full.exceptAll(inc).isEmpty())
        return same

    def operations_per_op(self) -> int:
        from api_to_amt_data_lake_spark.amt import registry
        return len(registry.VIEWS) + 1 + len(REFRESHED)

    def check(self, spark, outcomes: list) -> tuple[int, list[str]]:
        """Failed operations over all timed ops: each view not written,
        each validation that reports a FAIL, and each refresh that
        raised, fell back to `full_build`, or whose fact differs from the
        full build."""
        from api_to_amt_data_lake_spark.amt import registry

        failed, notes = 0, []
        for i, (report, written, stats, same) in enumerate(outcomes):
            missing = sorted(set(registry.VIEWS) - written)
            fails = [r["check"] for r in report if r["status"] == "FAIL"]
            wrong = [name for name, ok in same.items() if not ok]
            failed += len(missing) + (1 if fails else 0) + len(wrong)
            if missing:
                notes.append(f"op {i}: views not written: {missing}")
            if fails:
                notes.append(f"op {i}: validate_gold FAIL: {fails}")
            for name in wrong:
                notes.append(f"op {i}: {name} refresh not incremental, "
                             f"failed, or differs from the full build: "
                             f"{stats[name]}")
        return failed, notes

    @staticmethod
    def layer_values(outcomes: list) -> dict:
        """Refresh stats per operation: keys and DateKey partitions the
        1% churn touched."""
        out = {}
        for name in REFRESHED:
            for field in ("touched_keys", "touched_dates"):
                vals = [o[2][name].get(field, 0) for o in outcomes
                        if isinstance(o[2].get(name), dict)]
                out[f"amt.{field}.{name}"] = (sum(vals) / len(vals)
                                              if vals else 0)
        return out


REFRESHED = ("chrab", "ews")


def _incremental() -> tuple:
    """The maintained facts' modules, in `REFRESHED` order."""
    from api_to_amt_data_lake_spark.amt import (
        chrab_incremental,
        ews_incremental,
    )
    return chrab_incremental, ews_incremental


ANN_QUERIES = (
    "q35_ivf_ann",
    "q95e_persisted_ivfpq",
    "q99zi_opq_parity",
)


def _verify_local(repo: Path):
    """`tools/verify_local.py`, whose `canon` defines result equality."""
    spec = importlib.util.spec_from_file_location(
        "verify_local", repo / "tools" / "verify_local.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_hash(df, canon) -> str:
    """Order-insensitive hash of a result frame."""
    c = canon(df)
    body = c.to_csv(index=False) if len(c) else ",".join(c.columns)
    return hashlib.sha256(body.encode()).hexdigest()


class OpsAnn:
    """The ANN/IVFPQ conformance queries over seeded embeddings, each
    collected to the driver; index and vector-store files written by the
    queries are removed before every operation."""

    # The shape of the embeddings table at sf0.1, the corpus the
    # conformance queries were written for (2,000 rows of 64 floats).
    n_vectors = 2000
    dim = 64

    def __init__(self, work: Path, seed: int, repo: Path):
        self.data = work / "data"
        # q95e writes its index under tempfile's directory, which the
        # runner points here.
        self.tmp = work / "tmp"
        self.output_roots = (self.tmp,)
        self.refresh_roots = ()
        self.seed = seed
        self.repo = repo

    def make_inputs(self) -> None:
        silver.write_embeddings(self.data / "embeddings.parquet",
                                self.n_vectors, self.dim, self.seed)

    def prime(self, spark) -> None:
        pass

    def prepare(self) -> None:
        for path in self.tmp.iterdir():
            if path.is_dir():
                shutil.rmtree(path, ignore_errors=True)
            else:
                path.unlink()

    def op(self, spark, tracer) -> dict:
        from api_to_amt_data_lake_spark.plans import conformance

        out = {}
        for q in ANN_QUERIES:
            with tracer.span(f"plans.query.{q}", tag=f"query/{q}"):
                try:
                    out[q] = conformance.QUERIES[q](
                        spark, str(self.data)).toPandas()
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    out[q] = exc
        return out

    def settle(self, spark, results: dict) -> dict:
        return results

    @staticmethod
    def layer_values(outcomes: list) -> dict:
        return Gold.layer_values([])

    def operations_per_op(self) -> int:
        return len(ANN_QUERIES)

    def check(self, spark, outcomes: list) -> tuple[int, list[str]]:
        """Each query's result against its DuckDB oracle, computed once
        per run. A query without SQL (q99zi) is held to the oracle of
        the query its parity baseline runs."""
        import duckdb

        from api_to_amt_data_lake_spark.plans import conformance

        canon = _verify_local(self.repo).canon
        con = duckdb.connect()
        con.execute("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                    f"'{self.data / 'embeddings.parquet'}')")
        expected, by_sql = {}, {}
        for q in ANN_QUERIES:
            oracle = q
            if q not in conformance.ORACLE:
                baseline = conformance.PARITY_BASELINES[q]
                oracle = next(name for name, fn in conformance.QUERIES.items()
                              if fn is baseline)
            sql = conformance.ORACLE[oracle]
            if sql not in by_sql:  # queries sharing one oracle run it once
                ref = con.sql(sql).df()
                by_sql[sql] = (len(ref), sorted(ref.columns),
                               result_hash(ref, canon))
            expected[q] = by_sql[sql]
        con.close()
        failed, notes = 0, []
        for i, out in enumerate(outcomes):
            for q, got in out.items():
                if isinstance(got, Exception):
                    failed += 1
                    notes.append(f"op {i} {q}: {type(got).__name__}: {got}")
                    continue
                have = (len(got), sorted(got.columns), result_hash(got, canon))
                if have != expected[q]:
                    failed += 1
                    notes.append(f"op {i} {q}: result differs from oracle "
                                 f"(rows {have[0]} vs {expected[q][0]})")
        return failed, notes


WORKLOADS = {"gold": Gold, "ops_ann": OpsAnn}
