"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ppdb_ingest --seed 1 --seconds 10 --trace 0

One client runs a closed loop from this process on ``local[nproc]``: each
pass runs the workload's steps (``workloads.py``) back to back, and the
next pass starts when the last one ends. A run:

1. prepares the seeded inputs and their references (``inputs.py``) in a
   child process that exits before the session starts, so neither its
   time nor its memory is measured;
2. sets up: deletes what an earlier run left on disk (the engine's
   persisted indexes over this run's tables, and the reshard output),
   launches the JVM, starts the session and runs one cold pass, which
   rebuilds the indexes, then ``WARMUP_PASSES`` warm passes. All of them
   are untimed. ``setup_s`` runs from process start to the end of the
   last warm-up pass, minus step 1;
3. runs timed passes until ``--seconds`` have elapsed;
4. untimed: collects each registry step's full result once and compares
   it with the DuckDB oracle.

Every step execution is checked (``correct`` in the result); a failing
step counts against ``success_rate`` and the run goes on.

The deployment is pinned through the engine's own environment variables:
``SPARK_GRAFT_CPUS`` is nproc (a run fails if Spark's defaultParallelism
differs), the driver heap is ``DRIVER_MEM`` (fixed-size, ``-Xms`` equal to
the maximum, so heap growth does not drift across passes), and all
scratch space is under ``<checkout>/.cache``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced timed passes: traced passes tag each step with a
Spark job group and read the status store after it (``probes.Ledger``),
giving the per-layer metrics; the untraced ones give the tracing
overhead. The last stdout line is the result JSON; a line before it
records the deployment and the raw per-pass figures.
"""

from __future__ import annotations

import argparse
import glob
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: Warm passes after the cold one, before timing starts: the JIT keeps
#: settling over the first few (passes kept getting faster).
WARMUP_PASSES = 3
#: A timed pass counts toward ``pass_s`` and ``cpu_s`` only if the
#: hypervisor took less than this share of the machine's CPU time while it
#: ran (``/proc/stat`` steal). If fewer than two passes qualify, the
#: quietest half of the passes count. On a shared host, steal episodes of
#: 5-25% lasting minutes slow a pass by about five times their share; they
#: measure the neighbours, not the engine.
QUIET_STEAL = 0.02
#: Driver heap: the inputs are tens of MB, and the host is shared.
DRIVER_MEM = "2g"
GOLDENS = os.path.join(HERE, "goldens.json")

WORKLOAD_STATS = (
    "session.start_s", "warmup_s", "sources.input_bytes", "sources.output_bytes",
    "spark.stages", "spark.tasks", "spark.gc_s", "spark.spill_bytes",
    "spark.busy_ratio", "trace.overhead_ratio",
)
STEP_STATS = ("build_s", "action_s", "jobs", "exec_cpu_s", "shuffle_bytes")
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "success_rate": "ratio",
}


def per_layer_names() -> list[str]:
    from workloads import all_step_names

    steps = [f"{s}.{k}" for s in all_step_names() for k in STEP_STATS]
    return list(WORKLOAD_STATS) + steps


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


class Context:
    """Inputs, references and per-run check state of one workload."""

    def __init__(self, workload: str, seed: int) -> None:
        import inputs

        self.cores = len(os.sched_getaffinity(0))
        self.expected: dict = {}
        self.oracle: dict = {}
        self.first_output: dict[str, list[int]] = {}
        self.pack_dir = self.tables_dir = ""
        run_dir = os.path.join(inputs.CACHE, f"run-{os.getpid()}")
        self.reshard_dir = os.path.join(run_dir, "reshard")
        self.scratch = run_dir
        if workload == "ppdb_ingest":
            self.pack_dir = inputs.ensure_pack(seed)
            with open(os.path.join(self.pack_dir, "expected.json")) as f:
                self.expected = json.load(f)
        else:
            from workloads import WORKLOADS

            self.tables_dir = inputs.ensure_tables(seed)
            queries = [s.name for s in WORKLOADS[workload]]
            self.oracle = inputs.ensure_oracle(self.tables_dir, queries)
        with open(GOLDENS) as f:
            self.goldens = json.load(f).get(workload, {}).get(str(seed), {})

    def reset_state(self) -> None:
        """Delete what an earlier run left on disk: the engine's persisted
        indexes over this run's tables, and the reshard output."""
        shutil.rmtree(self.reshard_dir, ignore_errors=True)
        if self.tables_dir:
            tag = os.path.basename(self.tables_dir)
            for d in glob.glob(os.path.join(ROOT, ".cache", "indexes", f"*_{tag}_*")):
                shutil.rmtree(d, ignore_errors=True)


def start_session():
    from ppdb_parser_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
        },
    )


def run_pass(spark, ctx, steps, ledger=None) -> tuple[list[dict], int]:
    """One pass over ``steps``; returns per-step records and the failures."""
    records, failed = [], 0
    for step in steps:
        rec: dict = {"step": step.name}
        group = ledger.begin(step.name) if ledger else None
        try:
            t0 = time.perf_counter()
            plan = step.build(spark, ctx)
            t1 = time.perf_counter()
            result = step.force(spark, ctx, plan)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1)
            if ledger:
                rec.update(ledger.end(group))
            err = step.check(ctx, result)
            if step.name in ctx.oracle:
                rec["output"] = list(result)
        except Exception:
            err = traceback.format_exc(limit=3)
            if ledger:
                ledger.end(group)
        if err:
            failed += 1
            rec["error"] = err
            print(f"perfbench: step {step.name} failed: {err}", file=sys.stderr)
        records.append(rec)
    return records, failed


def _pin_deployment() -> dict:
    """Pin the engine's deployment through its existing environment
    variables and keep every scratch file inside the checkout."""
    import inputs

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    tmp = os.path.join(inputs.CACHE, "tmp")
    local = os.path.join(ROOT, ".cache", "scratch")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"nproc": nproc, "driver_memory": DRIVER_MEM}


def _stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import probes

    age0 = probes.process_age_s()
    t_main = time.perf_counter()
    try:
        import ppdb_parser_spark  # noqa: F401  (the engine under test)
        from workloads import WORKLOADS, oracle_check
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    steps = WORKLOADS[args.workload]
    deployment = _pin_deployment()

    t_prep = time.perf_counter()
    # Generate the inputs and references in a child; the Context built
    # here afterwards only reads them back from the cache. The child's
    # peak memory then stays out of ``peak_rss_mb``.
    prep = multiprocessing.get_context("fork").Process(
        target=Context, args=(args.workload, args.seed)
    )
    prep.start()
    prep.join()
    if prep.exitcode != 0:
        print(f"perfbench: input preparation failed ({prep.exitcode})", file=sys.stderr)
        return 2
    ctx = Context(args.workload, args.seed)
    prep_s = time.perf_counter() - t_prep

    attempted = failed = 0
    spark = None
    try:
        ctx.reset_state()
        t0 = time.perf_counter()
        spark = start_session()
        session_start_s = time.perf_counter() - t0
        sc = spark.sparkContext
        deployment.update(
            default_parallelism=sc.defaultParallelism,
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            driver_memory=sc.getConf().get("spark.driver.memory"),
        )
        if sc.defaultParallelism != deployment["nproc"]:
            print(
                f"perfbench: defaultParallelism {sc.defaultParallelism} "
                f"!= nproc {deployment['nproc']}",
                file=sys.stderr,
            )
            return 3
        warm_walls = []
        for _ in range(1 + WARMUP_PASSES):
            t0 = time.perf_counter()
            _, bad = run_pass(spark, ctx, steps)
            warm_walls.append(time.perf_counter() - t0)
            attempted += len(steps)
            failed += bad
        warmup_s = warm_walls[0]
        setup_s = age0 + (time.perf_counter() - t_main) - prep_s

        ledger = None
        if args.trace:
            from probes import Ledger

            ledger = Ledger(spark)
        walls: list[float] = []
        cpus: list[float] = []
        traced: list[list[dict]] = []
        traced_walls: list[float] = []
        untraced_walls: list[float] = []
        steals: list[float] = []
        t_end = time.perf_counter() + args.seconds
        n = 0
        rss = 0.0
        while time.perf_counter() < t_end or n < (2 if args.trace else 1):
            # traced / untraced in T U U T order, so the warm-up trend
            # does not bias the tracing overhead
            use_ledger = ledger if (args.trace and n % 4 in (0, 3)) else None
            c0 = probes.tree_cpu_s()
            k0 = probes.host_cpu_ticks()
            t0 = time.perf_counter()
            recs, bad = run_pass(spark, ctx, steps, use_ledger)
            wall = time.perf_counter() - t0
            steals.append(probes.steal_share(k0, probes.host_cpu_ticks()))
            cpu = probes.tree_cpu_s() - c0
            attempted += len(steps)
            failed += bad
            if use_ledger:
                traced.append(recs)
                traced_walls.append(wall)
            elif args.trace:
                untraced_walls.append(wall)
            walls.append(wall)
            cpus.append(cpu)
            # after every pass, not once at the end: an idle Python worker
            # is retired after a minute, taking its resident memory with it
            rss = max(rss, probes.tree_peak_rss_mb())
            n += 1
        # Untimed: each registry step's full result against the oracle.
        for name in ctx.oracle:
            attempted += 1
            try:
                err = oracle_check(spark, ctx, name)
            except Exception:
                err = traceback.format_exc(limit=3)
            if err:
                failed += 1
                print(f"perfbench: oracle check {name} failed: {err}", file=sys.stderr)
        outputs = {r["step"]: r["output"] for r in recs if "output" in r}
    finally:
        if spark is not None:
            _stop(spark)
        probes.wait_tree_exit()
        shutil.rmtree(ctx.scratch, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "deployment": deployment, "prep_s": prep_s, "session_start_s": session_start_s,
        "setup_s": setup_s, "warmup_walls_s": warm_walls,
        "pass_walls_s": walls, "pass_cpu_s": cpus, "pass_steal_share": steals,
        "outputs": outputs,
    }
    if args.trace:
        metrics = _per_layer(
            traced, traced_walls, untraced_walls, steps, deployment["nproc"],
            session_start_s, warmup_s,
        )
    else:
        quiet = [i for i, st in enumerate(steals) if st < QUIET_STEAL]
        if len(quiet) < 2:
            by_steal = sorted(range(len(walls)), key=steals.__getitem__)
            quiet = sorted(by_steal[: max(2, (len(walls) + 1) // 2)])
        record["passes_used"] = quiet
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls[i] for i in quiet),
            "cpu_s": statistics.median(cpus[i] for i in quiet),
            "peak_rss_mb": rss,
            "success_rate": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print("perfbench-record " + json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _per_layer(traced, traced_walls, untraced_walls, steps, cores, session_start_s, warmup_s):
    """Medians over the traced passes of each step's ledger record."""
    med = statistics.median
    out = dict.fromkeys(per_layer_names(), 0.0)
    for i, step in enumerate(steps):
        recs = [p[i] for p in traced if "jobs" in p[i]]
        if not recs:
            continue
        for k in STEP_STATS:
            out[f"{step.name}.{k}"] = med(r[k] for r in recs)

    def per_pass(field):
        return med(sum(r.get(field, 0.0) for r in p) for p in traced)

    out["session.start_s"] = session_start_s
    out["warmup_s"] = warmup_s
    out["sources.input_bytes"] = per_pass("input_bytes")
    out["sources.output_bytes"] = per_pass("output_bytes")
    out["spark.stages"] = per_pass("stages")
    out["spark.tasks"] = per_pass("tasks")
    out["spark.gc_s"] = per_pass("gc_s")
    out["spark.spill_bytes"] = per_pass("spill_bytes")
    busy = [
        sum(r.get("exec_run_s", 0.0) for r in p)
        / (cores * sum(r.get("build_s", 0.0) + r.get("action_s", 0.0) for r in p))
        for p in traced
    ]
    out["spark.busy_ratio"] = med(busy)
    if untraced_walls:
        out["trace.overhead_ratio"] = med(traced_walls) / med(untraced_walls) - 1.0
    return {k: {"value": v, "unit": _unit(k)} for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
