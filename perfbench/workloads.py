"""The benchmark's workloads: inputs, set-up op, timed units, output checks.

- ``etl_daily``: ``run_pipeline()`` over month-sized landings, one batch
  per op, one ledger for the whole run.
- ``queries``: a read-only mix of the relational core (the paper's two
  business questions) and the heavy corpus operators. Each pass reads its
  own seeded, row-permuted copy of the tables at a fresh path, so every
  session artifact is built inside the pass (artifact-cold).
"""

from __future__ import annotations

import glob
import os
from functools import partial

import checks
import gen

# the paper's two business questions (plans.core), then one op per
# corpus artifact family the time budget affords (plans.documents):
#   q01g / q02   customer monthly spend, top-seller incentive
#   d03          shingle + minhash session artifacts (checkpoints, operators.dedup)
#   t21          LM-score artifact (operators.text)
QUERY_MIX = (
    "q01g_customer_monthly_spend_grouped",
    "q02_sales_team_incentive",
    "d03_minhash_lsh",
    "t21_doc_lm_score",
)


class Op:
    """One timed operation: a callable with a kind (for the checks)."""

    def __init__(self, kind: str, fn, **info):
        self.kind = kind
        self.fn = fn
        self.info = info

    def __call__(self):
        return self.fn()


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, tiny: bool):
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.threads = len(os.sched_getaffinity(0))
        self.problems: list[str] = []
        self.spark = None
        self.tracer = None  # set for the traced phase only
        self.setup_failed = False

    def op_failed(self, op: Op, exc: Exception) -> None:
        self.problems.append(f"FAILED {op.kind} {op.info}: {type(exc).__name__}: {exc}"[:400])


class EtlDaily(Workload):
    """``run_pipeline()`` over a sequence of month-sized landings."""

    name = "etl_daily"
    # a warm-JVM re-set-up costs a whole batch (~10 s on 4 cores), more
    # than the run's time budget allows, so the set-up is made once
    setups = 1

    def prepare(self) -> None:
        self.sizes = gen.TINY_SIZES if self.tiny else gen.ETL_SIZES
        self.rows = gen.TINY_ROWS_PER_MONTH if self.tiny else gen.ETL_ROWS_PER_MONTH
        self.dims_dir = os.path.join(self.work, "dims")
        self.out = os.path.join(self.work, "out")
        self.retail = gen.write_etl_dims(self.dims_dir, self.seed, self.sizes, self.threads)
        self.months = gen.etl_months(self.seed, gen.N_MONTHS)
        self.batches: list[dict] = []  # one record per batch run, in order
        self.inputs: list[dict] = []

    def _landing(self) -> dict:
        b = len(self.batches)
        if b >= len(self.months):
            raise RuntimeError("ran out of distinct months for landings")
        landing = os.path.join(self.work, "landing", f"b{b:03d}")
        expect = os.path.join(self.work, "expect", f"b{b:03d}.parquet")
        os.makedirs(os.path.dirname(expect), exist_ok=True)
        info = gen.write_landing(
            self.dims_dir, landing, expect, self.seed, b, self.months[b],
            self.rows, self.sizes, self.retail, self.threads,
        )
        rec = {"batch": b, "landing": landing, "expect": expect, "run_ts": f"b{b:03d}", **info}
        self.batches.append(rec)
        return rec

    def rebind(self, spark) -> None:
        from end_to_end_sales_etl_de_project_spark.ledger import Ledger

        self.spark = spark
        self.dims = {
            n: spark.read.parquet(os.path.join(self.dims_dir, f"{n}.parquet"))
            for n in ("customer", "store", "sales_team")
        }
        # one ledger for the whole run; a new session reopens the same log
        self.ledger = Ledger(spark, os.path.join(self.work, "ledger"))

    def _batch(self, rec: dict) -> None:
        from end_to_end_sales_etl_de_project_spark.pipeline import run_pipeline

        rec["result"] = run_pipeline(
            self.spark, rec["landing"], self.out, self.dims, self.ledger, run_ts=rec["run_ts"]
        )

    def setup(self, spark, i: int) -> None:
        self.rebind(spark)
        self._batch(self._landing())

    def warmup(self) -> None:
        """None: set-up already ran a whole batch, so every code path of
        the pipeline is compiled, and the first timed batch is only about
        15 % slower than the rest."""

    def units(self):
        while True:
            rec = self._landing()
            self.inputs.append(rec)
            yield [Op("run_pipeline", partial(self._batch, rec), batch=rec["batch"])]

    def op_counters(self, op: Op, spark) -> dict:
        rec = self.batches[op.info["batch"]]
        valid = [n for n, r in rec["routes"].items() if r == "valid"]
        files = [
            f for sink in checks.SINKS
            for f in glob.glob(f"{self.out}/{sink}/{rec['run_ts']}/**/*.parquet", recursive=True)
        ]
        archived = [f"{self.out}/processed/{rec['run_ts']}/{n}" for n in valid]
        return {
            "input_mb": sum(os.path.getsize(f) for f in archived if os.path.exists(f)) / 1e6,
            "files_written": len(files),
            "mb_written": sum(os.path.getsize(f) for f in files) / 1e6,
        }

    def ledger_files(self) -> int:
        return len(glob.glob(os.path.join(self.work, "ledger", "*.parquet")))

    def check(self, spark) -> int:
        """Check every batch the run made (set-up batches too); returns
        the number of failed TIMED batches."""
        failed = 0
        for rec in self.batches:
            if "result" not in rec:
                continue  # raised: already counted
            errs = checks.check_batch(rec, self.dims_dir, self.out)
            if errs:
                self.problems.append(f"CHECK batch {rec['batch']}: {'; '.join(errs)}"[:400])
                if rec in self.inputs:
                    failed += 1
                else:
                    self.setup_failed = True
            rec.pop("result")
        return failed

    def input_summary(self) -> str:
        recs = self.inputs or self.batches
        rows = sum(r["rows"] for r in recs) / len(recs)
        mb = sum(r["mb"] for r in recs) / len(recs)
        leaves = sum(r.get("leaves", 0) for r in recs) / len(recs)
        return (f"{len(recs)} timed landings, per batch: {rows:.0f} rows, "
                f"{recs[0]['files']} files, {mb:.2f} MB, {leaves:.0f} partition leaves; "
                f"months {','.join(r['month'] for r in recs)}")


class Queries(Workload):
    """Closed loop of passes over ``QUERY_MIX``, each on a fresh copy."""

    name = "queries"
    setups = 3

    def prepare(self) -> None:
        self.base = os.path.join(self.work, "tables", "base")
        sizes = gen.TINY_SIZES if self.tiny else gen.QUERY_SIZES
        self.table_stats = gen.write_tables(self.base, self.seed, sizes, self.threads)
        self.copies = 0
        self.last_dir: dict[str, str] = {}  # op kind -> copy it last ran on
        self.passes = 0

    def _copy(self) -> str:
        d = os.path.join(self.work, "tables", f"copy{self.copies:03d}")
        gen.permuted_copy(self.base, d, self.seed * 1000 + self.copies, self.threads)
        self.copies += 1
        return d

    def run_op(self, name: str, d: str) -> None:
        from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

        tracer = self.tracer
        if tracer is None:
            QUERIES[name](self.spark, d).write.mode("overwrite").format("noop").save()
        else:
            with tracer.span("plans.build"):
                df = QUERIES[name](self.spark, d)
            with tracer.span("plans.action"):
                df.write.mode("overwrite").format("noop").save()
        self.last_dir[name] = d

    def setup(self, spark, i: int) -> None:
        self.spark = spark
        self.run_op(QUERY_MIX[0], self._copy())

    def rebind(self, spark) -> None:
        self.spark = spark

    def op_counters(self, op: Op, spark) -> dict:
        """Persisted RDDs and their storage after the op."""
        sc = spark.sparkContext._jsc.sc()
        infos = sc.getRDDStorageInfo()
        return {
            "live_rdds": sc.getPersistentRDDs().size(),
            "storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / 1e6,
        }

    def warmup(self) -> None:
        """One untimed pass on its own copy: set-up runs only the first op,
        and the other ops' first runs in a JVM pay for compiling their code."""
        d = self._copy()
        for name in QUERY_MIX:
            self.run_op(name, d)

    def units(self):
        while True:
            d = self._copy()
            self.passes += 1
            yield [Op(n, partial(self.run_op, n, d), query=n) for n in QUERY_MIX]

    def check(self, spark) -> int:
        """Every op kind once, on the copy it last ran on, against the
        DuckDB oracle over the UNPERMUTED base tables. A mismatch fails
        every timed op of that kind."""
        failed = 0
        con = checks.oracle_connection(self.base)
        try:
            for name in QUERY_MIX:
                if name not in self.last_dir:
                    continue  # never completed: every op of it already failed
                err = checks.check_query(spark, con, name, self.last_dir[name])
                if err:
                    self.problems.append(f"CHECK {name}: {err}"[:400])
                    failed += self.passes
        finally:
            con.close()
        return failed

    def input_summary(self) -> str:
        t = self.table_stats
        mb = sum(v["mb"] for v in t.values())
        return (f"{self.passes} timed passes of {len(QUERY_MIX)} ops, one permuted copy each "
                f"({len(t)} files, {mb:.2f} MB): "
                + ", ".join(f"{k} {v['rows']}" for k, v in t.items()))


WORKLOADS = {w.name: w for w in (EtlDaily, Queries)}
