"""Round-15 invariants: the checkpoint lifecycle is BOUNDED (VERDICT
r14 #1) and d19's candidate materialization is scoped (VERDICT r14 #4).

The r14 cascade: ~35 localCheckpoint sites, 3 release points — a long
verify session pinned one block set per invocation until the host ran
out of memory. These tests pin the r15 contract: repeated invocations
hold O(call sites) live checkpoint blocks, never O(invocations).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark import checkpoints as C
from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _storage_bytes(spark) -> int:
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total


def test_scoped_checkpoint_keeps_two_generations(spark):
    """The per-site scope frees generations older than 2: four builds
    at one site leave exactly two live checkpoints, and the freed
    generations' blocks are gone from the block manager."""
    site = "test_r15.scope_unit"
    base = _n_persisted(spark)
    gens = [
        C.scoped_checkpoint(site, spark.range(100).withColumn("g", F.lit(i)))
        for i in range(4)
    ]
    live = C._SCOPES[site]
    assert len(live) == C._KEEP == 2
    # the two newest generations still read fine...
    assert gens[-1].count() == 100
    assert gens[-2].count() == 100
    # ...and the block manager holds only them (plus whatever the rest
    # of the suite pinned before this test ran)
    assert _n_persisted(spark) - base <= 2
    for g in live:
        C.free_checkpoint(g)
    C._SCOPES.pop(site, None)


def test_scoped_checkpoint_is_thread_safe(monkeypatch):
    """lsh_tuning_curve calls scoped_checkpoint from thread-pool
    workers. Under heavy thread switching, every generation is either
    still live or freed exactly once, and each site keeps exactly
    ``_KEEP`` — a lost update would leak a generation or free one
    twice."""
    import itertools
    import sys
    import threading

    tokens = itertools.count()
    freed: list[int] = []
    monkeypatch.setattr(C, "eager_checkpoint", lambda df: next(tokens))
    monkeypatch.setattr(C, "free_checkpoint", freed.append)
    sites = [f"test_r15.stress{i}" for i in range(2)]
    n_threads, per_thread = 16, 200

    def worker(i: int) -> None:
        for _ in range(per_thread):
            C.scoped_checkpoint(sites[i % 2], None)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        live = [g for s in sites for g in C._SCOPES[s]]
        assert all(len(C._SCOPES[s]) == C._KEEP for s in sites)
        assert len(freed) == len(set(freed))
        assert sorted(freed + live) == list(range(n_threads * per_thread))
    finally:
        sys.setswitchinterval(old)
        for s in sites:
            C._SCOPES.pop(s, None)


# every operator family that materializes per-invocation blocks
_HEAVY = [
    "d24_dedup_tier_attribution",  # 5 per-invocation checkpoints
    "d19_lsh_tuning_curve",        # 3 per-leg candidate lists
    "m07_phash_neardup",           # signature seam checkpoint
    "d11_chunk_neardup",           # per-invocation chunk index + sigs
    "d09_minhash_estimate_audit",  # candidate list checkpoint
    "d28_cms_error_audit",         # exact-df checkpoint
    "c02_training_manifest",       # kept-corpus consumer
    "c08_decontamination_agreement",
]


def _three_sweeps() -> None:
    """Run the checkpoint-heavy query set three times in a FRESH session
    and print the (persisted RDDs, storage bytes) pair after each sweep
    as one JSON line. Run in its own interpreter so the counts hold
    only what these sweeps persisted."""
    import json

    from end_to_end_sales_etl_de_project_spark.session import get_spark_session

    spark = get_spark_session(
        app_name="storage-sweeps",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "3g"},
    )
    counts = []
    for _ in range(3):
        for name in _HEAVY:
            QUERIES[name](spark, SF).write.mode("overwrite").format("noop").save()
        counts.append((_n_persisted(spark), _storage_bytes(spark)))
    print(json.dumps(counts))
    spark.stop()


def test_artifact_heavy_session_storage_is_bounded():
    """The driver-loop reproduction: run the checkpoint-heavy query set
    THREE times each in one fresh session and pin that (a) live
    persisted-RDD count stays bounded and (b) the second and third
    sweeps add NO net persisted RDDs or storage bytes — re-entry frees
    the previous generation, so repeated invocations are storage-flat.
    Pre-r15 every sweep leaked one generation per site (d24 alone: 5).
    The sweeps run in a subprocess: in the suite's shared session the
    count would include RDDs that earlier tests persisted."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from tests.test_r15_invariants import _three_sweeps; _three_sweeps()",
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=1500,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    (n1, b1), (n2, b2), (n3, b3) = json.loads(out.stdout.strip().splitlines()[-1])

    # flat from sweep 2 to sweep 3: zero net persisted-RDD growth, and
    # storage bytes within 5% (block sizes jitter with partitioning)
    assert n3 <= n2, (n1, n2, n3)
    assert b3 <= b2 * 1.05, (b1, b2, b3)
    # absolute bound: sites x 2 generations + session artifacts, far
    # below the hundreds an O(invocations) leak accumulates
    assert n3 < 60, n3


def test_d19_candidate_lists_are_scoped_not_leaked(spark):
    """d19 (VERDICT r14 #4): each leg's candidate pair list is
    materialized once per invocation under a call-site scope — the
    returned plan reads three ExistingRDD scans for the counts, and a
    second invocation reuses the scope slots instead of pinning three
    more block sets forever."""
    df1 = QUERIES["d19_lsh_tuning_curve"](spark, SF)
    plan = df1._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ExistingRDD") >= 3, plan
    sites = [s for s in C._SCOPES if s.startswith("lsh_tuning_curve.cands")]
    assert len(sites) == 3, sorted(C._SCOPES)
    n_before = _n_persisted(spark)
    df2 = QUERIES["d19_lsh_tuning_curve"](spark, SF)
    assert df2.count() == 3
    for s in sites:
        assert len(C._SCOPES[s]) <= C._KEEP
    # the second invocation may top scopes up to 2 generations but
    # never beyond (3 sites x <= 1 net new block set)
    assert _n_persisted(spark) - n_before <= 3
