"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository: the program under test
is imported from the ``end_to_end_sales_etl_de_project_spark`` directory
there, and nowhere else. Everything the run writes (inputs, outputs, the
Spark scratch space and event log) lives under ``.perfbench_work/`` in
the current directory and is removed at the end.

Each run is closed-loop with one client on ``local[nproc]``:

1. generate the workload's inputs from ``--seed`` (untimed);
2. set up the workload's ``setups`` times: start a SparkSession (the
   first start also launches the JVM) and run the workload's first op on
   fresh inputs. ``setup_s`` is the median of those set-ups;
3. warm up (``queries`` only): one untimed pass of the mix;
4. run whole units until ``--seconds`` of undisturbed op time is
   measured (see ``STEAL_MAX``), or ``CAP`` x ``--seconds`` in all;
5. check every op kind's output (untimed); a mismatch fails the op.

With ``--trace 1`` the run then starts a second session with the Spark
event log on, installs span wrappers around the layer entry points, runs
the timed phase again, and reports per-layer metrics instead (see
``tracer.py``).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the lines before it are the human-readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "end_to_end_sales_etl_de_project_spark"
# A unit (batch, or pass of the mix) during which the hypervisor took more
# than this share of the machine's CPU time (/proc/stat steal) ran on a
# disturbed host; the end-to-end metrics leave its ops out (see
# timed_phase and select_ops).
STEAL_MAX = 0.02
# the timed phase stops after CAP x --seconds of op time in all, however
# little of it was undisturbed, so a noisy host lengthens a run by at most
# a quarter of --seconds
CAP = 1.25


def tail_stat(latencies: list[float]) -> tuple[float, float, int]:
    """The op latency at the highest percentile that still has at least
    10 samples beyond it, but never below p90: with n ops, the sample
    with min(10, n // 10) samples beyond it (p90 by nearest rank while
    n < 110; the slowest op while n < 10). Returns (value, percentile,
    samples beyond)."""
    if not latencies:
        raise ValueError("no latencies")
    xs = sorted(latencies)
    n = len(xs)
    beyond = min(10, n // 10)
    idx = n - 1 - beyond
    return xs[idx], 100.0 * (idx + 1) / n, beyond


def select_ops(record: list[tuple[int, float, float, bool]]) -> tuple[list, bool]:
    """The ops of undisturbed units (steal share at most STEAL_MAX) when
    at least two such units had an op succeed, else every op. Returns
    (ops, undisturbed only)."""
    quiet = [r for r in record if r[2] <= STEAL_MAX]
    if len(quiet) == len(record) or len({u for u, _, _, ok in quiet if ok}) >= 2:
        return quiet, True
    return record, False


def summarize(setups: list[float], record: list[tuple[int, float, float, bool]], attempted: int, failed: int) -> dict:
    used, quiet = select_ops(record)
    lat = [dt for _, dt, _, ok in used if ok]
    measured = sum(dt for _, dt, _, _ in used)
    value, pct, beyond = tail_stat(lat)
    return {
        "setup_s": statistics.median(setups),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": value,
        "tail_percentile": pct,
        "tail_beyond": beyond,
        "ops_per_s": len(lat) / measured,
        "error_rate": failed / attempted,
        "ops": len(lat),
        "used": len(used),
        "undisturbed_only": quiet,
        "measured_s": measured,
    }


def checkout_root() -> str:
    """The program must come from the checkout the benchmark runs in."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "pipeline.py")):
        raise SystemExit(
            f"perfbench: no {PACKAGE}/ in {root}; run from the repository root"
        )
    return root


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal), or [] off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine in between:
    the noisy-neighbour load that no setting of the benchmark controls."""
    if not before or not after:
        return 0.0
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def prepare_environment(work: str) -> None:
    """Pin the session to local[nproc] and keep every scratch file of
    Spark, DuckDB and Python inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def session_conf(work: str, event_log: str | None = None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Bench:
    """Session lifecycle shared by the workloads."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.jvm = None

    def start(self, event_log: str | None = None):
        from end_to_end_sales_etl_de_project_spark.session import get_spark_session

        self.spark = get_spark_session(
            app_name="perfbench", master=f"local[{nproc()}]",
            extra_conf=session_conf(self.work, event_log),
        )
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm is not None:
            if self.jvm.stdin:
                self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a hung JVM is killed, never left behind
                self.jvm.kill()
                self.jvm.wait(timeout=30)

    def jvm_peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0


def timed_phase(workload, seconds: float, on_op=None, around=None, record=None) -> tuple[list[float], float, int, int]:
    """Closed loop: run whole units (a batch or a pass) until ``seconds``
    of op time is measured. Input generation between units is not timed.

    With ``record`` (a list), every op appends (unit number, latency,
    steal share of its unit, succeeded) to it, and only the op time of
    undisturbed units (steal share at most STEAL_MAX) counts towards
    ``seconds``; the loop still stops after CAP x ``seconds`` of op time
    in all. A whole unit is judged, so the undisturbed ops keep the mix's
    proportions.
    Returns (successful op latencies, measured seconds, attempted, failed)."""
    lat: list[float] = []
    measured = counted = 0.0
    attempted = failed = 0
    for n, unit in enumerate(workload.units()):
        c0 = cpu_times()
        ops: list[tuple[float, bool]] = []
        for op in unit:
            attempted += 1
            t0 = time.perf_counter()
            try:
                if around is None:
                    op()
                else:
                    with around(op):
                        op()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
                failed += 1
                workload.op_failed(op, e)
                dt = time.perf_counter() - t0
                ops.append((dt, False))
            else:
                dt = time.perf_counter() - t0
                lat.append(dt)
                ops.append((dt, True))
            if on_op:
                on_op(op, dt)
        unit_s = sum(dt for dt, _ in ops)
        measured += unit_s
        if record is None:
            counted += unit_s
        else:
            steal = steal_share(c0, cpu_times())
            record.extend((n, dt, steal, ok) for dt, ok in ops)
            counted += unit_s if steal <= STEAL_MAX else 0.0
        if counted >= seconds or measured >= CAP * seconds:
            break
    return lat, measured, attempted, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke tests")
    args = p.parse_args(argv)

    root = checkout_root()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    load_start, cpu_start = os.getloadavg()[0], cpu_times()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    bench = Bench(work)
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.tiny)
    try:
        stamps = [("start", time.perf_counter())]
        wl.prepare()
        stamps.append(("inputs", time.perf_counter()))
        setups = []
        cpu_setup = cpu_times()
        for i in range(wl.setups):
            if i:
                bench.stop_session()
            t0 = time.perf_counter()
            spark = bench.start()
            if not i:
                first_session_s = time.perf_counter() - t0
            wl.setup(spark, i)
            setups.append(time.perf_counter() - t0)
        setup_steal = steal_share(cpu_setup, cpu_times())
        stamps.append(("set-up", time.perf_counter()))
        wl.warmup()
        stamps.append(("warm-up", time.perf_counter()))
        record: list[tuple[int, float, float, bool]] = []
        lat, _, attempted, failed = timed_phase(wl, args.seconds, record=record)
        stamps.append(("timed phase", time.perf_counter()))
        if not lat:
            raise RuntimeError("every timed op failed: " + "; ".join(wl.problems))
        s = summarize(setups, record, attempted, failed)
        if args.trace:
            import tracer

            tr = tracer.run(bench, wl, args.seconds, timed_phase)
            for phase in (tr.untraced, tr.traced):
                attempted += phase[2]
                failed += phase[3]
        if args.trace:
            stamps.append(("traced phases", time.perf_counter()))
        # a check failure fails every op of its kind; an op that raised
        # and then failed its check still counts once
        failed = min(attempted, failed + wl.check(bench.spark))
        stamps.append(("checks", time.perf_counter()))
        rss = bench.jvm_peak_rss_mb()
        bench.stop_session()
        if args.trace:
            traced = tracer.finish(tr, wl, rss, first_session_s)
        s["error_rate"] = failed / attempted
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    load_end, steal = os.getloadavg()[0], steal_share(cpu_start, cpu_times())

    print(f"workload {args.workload}  seed {args.seed}  nproc {nproc()}  "
          f"loadavg start {load_start:.2f} end {load_end:.2f}  cpu steal {steal:.1%}  "
          f"jvm peak rss {rss:.0f} MB")
    print(f"inputs  {wl.input_summary()}")
    print("wall    " + ", ".join(f"{name} {t - t0:.1f} s" for (_, t0), (name, t) in zip(stamps, stamps[1:])))
    print(f"setup_s    {s['setup_s']:.4f} s      median of {len(setups)}: "
          + ", ".join(f"{x:.3f}" for x in setups) + f"; cpu steal {setup_steal:.1%}")
    print("timed ops  " + ", ".join(
        f"{dt:.3f}s@{st:.0%}" + ("" if ok else " FAILED") + ("" if st <= STEAL_MAX else " disturbed")
        for _, dt, st, ok in record) + "  (latency@steal share of the op's unit)")
    print(f"           metrics over {s['used']} of {len(record)} ops: " + (
        f"those of units with cpu steal <= {STEAL_MAX:.0%}" if s["undisturbed_only"]
        else f"fewer than 2 units ran with cpu steal <= {STEAL_MAX:.0%}, so every op"))
    print(f"op_p50_s   {s['op_p50_s']:.4f} s      over {s['ops']} ops")
    print(f"op_tail_s  {s['op_tail_s']:.4f} s      p{s['tail_percentile']:.1f}, "
          f"{s['tail_beyond']} of {s['ops']} ops beyond it")
    print(f"ops_per_s  {s['ops_per_s']:.4f} 1/s    {s['ops']} completed in {s['measured_s']:.2f} s of op time")
    print(f"error_rate {s['error_rate']:.4f} ratio  {failed} failed of {attempted} (checks included"
          + (", traced phases too)" if args.trace else ")"))
    for line in wl.problems + (traced["report"] if args.trace else []):
        print(line)
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in traced["metrics"].items()}
    else:
        units = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s"}
        metrics = {k: {"value": s[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": failed == 0 and not wl.setup_failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
