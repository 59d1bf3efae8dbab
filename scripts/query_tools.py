"""Per-query tooling: plan dumps, plan fingerprints, isolated timing,
parity.

Usage:
  python scripts/query_tools.py explain <tag> <query> [query ...]
      -> writes plans/$SPARK_GRAFT_PLAN_DIR/<query>_<tag>.txt (explain
         formatted; default plans/r15/, created on demand, not tracked)
  python scripts/query_tools.py fingerprint --sf DIR OUT.json [query ...]
      -> OUT.json: one sha256 per query (default: every registered query,
         in registry order) of its masked optimized logical plan plus the
         masked plans of every DataFrame checkpointed while it is built
         (--sf defaults to $SPARK_GRAFT_SF_DIR)
  python scripts/query_tools.py --diff A.json B.json
      -> the queries whose fingerprints differ between two such files
  python scripts/query_tools.py time [-n N] <query> [query ...]
      -> warm + min-of-N noop-sink timing per query (bench methodology)
  python scripts/query_tools.py parity [--sf DIR] <query> [query ...]
      -> driver-style DuckDB oracle hash comparison per query

All build the same session bench.py does (local[$SPARK_GRAFT_CPUS]),
so plan shapes and timings match the driver's environment.

"Optimized plans unchanged" across a refactor is two fingerprint runs
(one per tree, same --sf) and one --diff. Two runs on ONE tree first
show which queries vary run to run (staging paths, data-driven build
choices); only differences beyond those are real plan changes.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
from end_to_end_sales_etl_de_project_spark.session import get_spark_session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLAN_DIR = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r15"))


def _spark():
    return get_spark_session(
        app_name="query-tools",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def cmd_explain(tag: str, names: list[str]) -> None:
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(PLAN_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        txt = buf.getvalue()
        print(
            f"{name}: Exchange={txt.count('Exchange')} "
            f"SortMergeJoin={txt.count('SortMergeJoin')} "
            f"BroadcastHashJoin={txt.count('BroadcastHashJoin')} "
            f"EvalPython={txt.count('EvalPython') + txt.count('MapInPandas') + txt.count('FlatMapGroupsInPandas')} "
            f"-> {os.path.relpath(path, REPO)}"
        )


# Run-specific tokens of a plan string: expression ids (#123, #123L),
# lambda variables (x_17: a global counter), and the physical-plan
# stage ids (codegen *(3), AQE query stages) should a plan carry them.
_PLAN_MASKS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"(QueryStage|codegen id : |WholeStageCodegen \()\d+"), r"\1N"),
)


def masked_plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    for pattern, repl in _PLAN_MASKS:
        text = pattern.sub(repl, text)
    return text


def cmd_fingerprint(out: str, names: list[str], sf_dir: str) -> None:
    from pyspark.sql import DataFrame

    spark = _spark()
    checkpointed: list[str] = []
    local_checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(masked_plan(self))
        return local_checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    shas = {}
    try:
        for name in names or list(QUERIES):
            checkpointed.clear()
            plan = masked_plan(QUERIES[name](spark, sf_dir))
            blob = "\n----\n".join([*checkpointed, plan])
            shas[name] = hashlib.sha256(blob.encode()).hexdigest()
            print(f"{name} {shas[name][:16]}", flush=True)
    finally:
        DataFrame.localCheckpoint = local_checkpoint
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": shas}, f, indent=1)


def cmd_diff(a: str, b: str) -> None:
    with open(a) as f:
        qa = json.load(f)["queries"]
    with open(b) as f:
        qb = json.load(f)["queries"]
    differ = sorted(n for n in qa.keys() & qb.keys() if qa[n] != qb[n])
    only = sorted(qa.keys() ^ qb.keys())
    print(f"{len(qa.keys() & qb.keys())} common queries, {len(differ)} differ: {differ}")
    if only:
        print(f"in one file only: {only}")


def cmd_time(names: list[str], n: int = 2) -> None:
    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def run(name: str) -> None:
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    # canary first (machine-state context, bench methodology)
    t0 = time.perf_counter()
    run("q10_rank_top1")
    warm = time.perf_counter() - t0
    steady = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run("q10_rank_top1")
        steady = min(steady, time.perf_counter() - t0)
    print(f"canary: warm={warm:.3f} steady={steady:.3f}")
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        run(name)  # warm
        warm = time.perf_counter() - t0
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            run(name)
            best = min(best, time.perf_counter() - t0)
        # trailing canary: the sandbox throttles after sustained CPU
        # use, so each measurement carries its own machine-state stamp
        t0 = time.perf_counter()
        run("q10_rank_top1")
        post = time.perf_counter() - t0
        print(f"{name}: warm={warm:.3f} steady={best:.3f} (canary_after={post:.3f})")
        spark.sparkContext.setJobDescription(None)


def cmd_parity(names: list[str], sf_dir: str) -> None:
    import __spark_entry__ as E
    from end_to_end_sales_etl_de_project_spark.testing import (
        compare_spark_to_oracle,
        duckdb_connection,
        run_oracle,
    )

    spark = _spark()
    con = duckdb_connection(sf_dir)
    oracles = E.oracle_sql()
    failures = 0
    for name in names:
        if name not in oracles:
            print(f"SKIP {name} (no oracle)")
            continue
        r = compare_spark_to_oracle(
            name, E.queries()[name](spark, sf_dir), run_oracle(con, oracles[name])
        )
        if r.match:
            print(f"PASS {name}")
        else:
            failures += 1
            print(f"FAIL {name}: {r.mismatches[:3]}")
    if failures:
        sys.exit(1)


def main() -> None:
    args = sys.argv[1:]
    cmd = args.pop(0)
    if cmd == "explain":
        tag = args.pop(0)
        cmd_explain(tag, args)
    elif cmd == "fingerprint":
        sf = os.environ.get("SPARK_GRAFT_SF_DIR")
        if args and args[0] == "--sf":
            args.pop(0)
            sf = args.pop(0)
        if not sf:
            raise SystemExit("fingerprint needs --sf DIR or SPARK_GRAFT_SF_DIR")
        out = args.pop(0)
        cmd_fingerprint(out, args, sf)
    elif cmd == "--diff":
        cmd_diff(*args)
    elif cmd == "time":
        n = 2
        if args and args[0] == "-n":
            args.pop(0)
            n = int(args.pop(0))
        cmd_time(args, n)
    elif cmd == "parity":
        sf = "/root/testdata/sf0.01"
        if args and args[0] == "--sf":
            args.pop(0)
            sf = args.pop(0)
        cmd_parity(args, sf)
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
