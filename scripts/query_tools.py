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
  python scripts/query_tools.py time [-n N] [query ...]
      -> warm + min-of-N noop-sink timing per query (bench methodology),
         with the plan-build and execute seconds of each timed run
         (default: every bench.HEADLINE query; --sf is
         $SPARK_GRAFT_SF_DIR, default sf0.1)
  python scripts/query_tools.py parity [--sf DIR] [query ...]
      -> the driver's verify loop: one session, DuckDB oracle hash
         comparison per query (testing.oracle_parity; rows-only queries
         are collected), then the driver/JVM/Python-worker RSS and the
         persisted RDDs and storage MB after it (default: every
         DRIVER_WINDOW query at sf0.01)

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


def cmd_time(names: list[str], n: int) -> None:
    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def run(name: str) -> tuple[float, float]:
        """(plan-build s, execute s): build = calling the registered
        function (py4j tree building, analysis, eager artifact work),
        execute = saving that DataFrame to the noop sink."""
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return t1 - t0, time.perf_counter() - t1

    # canary first (machine-state context, bench methodology)
    warm = sum(run("q10_rank_top1"))
    steady = min(sum(run("q10_rank_top1")) for _ in range(2))
    print(f"canary: warm={warm:.3f} steady={steady:.3f}")
    builds: list[tuple[float, str]] = []
    for name in names:
        spark.sparkContext.setJobDescription(name)
        try:
            warm = sum(run(name))
            runs = [run(name) for _ in range(n)]
        except Exception as e:  # noqa: BLE001 — a long list must finish
            print(f"{name}: ERR {type(e).__name__}: {e}"[:300], flush=True)
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
        # trailing canary: the sandbox throttles after sustained CPU
        # use, so each measurement carries its own machine-state stamp
        post = sum(run("q10_rank_top1"))
        split = " ".join(f"{b:.3f}/{e:.3f}" for b, e in runs)
        print(
            f"{name}: warm={warm:.3f} steady={min(map(sum, runs)):.3f} "
            f"build/exec={split} (canary_after={post:.3f})",
            flush=True,
        )
        builds.append((min(b for b, _ in runs), name))
    if len(builds) > 1:
        print("\n== top plan-build costs ==")
        for b, name in sorted(builds, reverse=True)[:15]:
            print(f"{b:7.3f} {name}")


def _rss_mb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 0


def _descendants() -> dict[int, str]:
    """pid -> command line of every process below this one: the Spark
    JVM and the Python workers it forks."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out: dict[int, str] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        for child, pp in parent.items():
            if pp == pid and child not in out:
                try:
                    with open(f"/proc/{child}/cmdline", "rb") as f:
                        out[child] = f.read().decode("utf-8", "replace")
                except OSError:
                    out[child] = ""
                todo.append(child)
    return out


def cmd_parity(names: list[str], sf_dir: str) -> None:
    from end_to_end_sales_etl_de_project_spark.plans.registry import (
        DRIVER_WINDOW,
        ORACLES,
    )
    from end_to_end_sales_etl_de_project_spark.testing import (
        duckdb_connection,
        oracle_parity,
    )

    spark = _spark()
    jsc = spark.sparkContext._jsc
    con = duckdb_connection(sf_dir)
    print(
        f"{'status':6} {'query':34} {'py_mb':>6} {'jvm_mb':>6} {'workers_mb':>10} "
        f"{'n_workers':>9} {'persisted':>9} {'storage_mem_mb':>14} {'storage_disk_mb':>15}"
    )
    failures = 0
    for name in names or DRIVER_WINDOW:
        detail = ""
        if name in ORACLES:
            r = oracle_parity(spark, sf_dir, con, name)
            status, detail = ("PASS" if r.match else "FAIL"), r.detail
            failures += not r.match
        else:
            QUERIES[name](spark, sf_dir).collect()
            status = "ROWS"
        procs = _descendants()
        jvm = [p for p, cmd in procs.items() if "java" in cmd]
        workers = [p for p, cmd in procs.items() if "pyspark.daemon" in cmd]
        infos = jsc.sc().getRDDStorageInfo()
        mem = sum(i.memSize() for i in infos) >> 20
        disk = sum(i.diskSize() for i in infos) >> 20
        print(
            f"{status:6} {name:34} {_rss_mb(os.getpid()):6d} "
            f"{sum(map(_rss_mb, jvm)):6d} {sum(map(_rss_mb, workers)):10d} "
            f"{len(workers):9d} {jsc.getPersistentRDDs().size():9d} {mem:14d} {disk:15d}",
            flush=True,
        )
        if detail:
            print(f"       {detail}")
    print(f"# failures={failures}")
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
        if not args:
            import bench

            args = [q for q in bench.HEADLINE if q in QUERIES]
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
