"""End-to-end benchmark: Translator TM pipelines driven through ``cli.main``.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (README.md in this directory says why each was chosen):

- ``kg_build``: MEDLINE XML → text → sentences → OGER → post-process →
  cooccurrence counts → metrics + IDF → sentence cooccurrence export;
- ``near_dup_batch``: NEAR_DUP_KEEP_BEST on a mixed-duplicate corpus.
  Traced runs also run the incremental chain on the same corpus
  (NEAR_DUP_INDEX_UPDATE per batch → NEAR_DUP_INDEX_RECONCILE →
  NEAR_DUP_INDEX_KEEP_BEST), once, outside the timed loop: its keep list
  is the reference the batch lists must equal, and its stages get
  per-layer counters.

The benchmark starts one Spark session at ``local[nproc]`` in this process
(its set-up time is process start to a warm session), generates its inputs
from ``--seed`` in a child process, then runs the chain (closed loop, one client) into a fresh
directory per pass until ``--seconds`` have passed, at least twice. The
first pass of a session runs cold, as every fresh CLI process does; the
second runs warm. After the timed loop it checks every pass's outputs.
Everything it writes stays under ``.perfbench_work/`` in the checkout and is
removed at the end.

With ``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` it carries the per-stage layer counters of ``layers.py`` from
one more, traced pass, followed by one more untraced pass; the tracing
overhead is the traced pass's wall minus the mean of its two untraced
neighbours. The line before the result is the run's record: settings,
input properties, set-up time, per-pass driver memory and per-stage walls.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes: large enough that executor work shows in every stage, small
# enough that set-up, two passes and the checks take under a minute on a
# 4-core box (a benchmark round makes 48 runs in under an hour).
SIZES = {
    "kg_build": {"n_docs": 1200},
    "near_dup_batch": {"n_docs": 4000, "batches": 2},
}
# the first pass of a session runs cold, the second warm
MIN_PASSES = 2
DRIVER_MEM = "1g"

# Per-layer metric names are <PIPELINE_KEY>.<counter> for every stage key the
# workloads run (the NEAR_DUP_INDEX_* keys in traced near_dup_batch runs),
# then workload totals; BENCHMARK.json lists the same names.
STAGE_KEYS = [
    "MEDLINE_XML_TO_TEXT", "SENTENCE_SEGMENTATION", "UPDATE_STATUS_FLAGS", "OGER",
    "CONCEPT_POST_PROCESS", "CONCEPT_COOCCURRENCE_COUNTS", "CONCEPT_COOCCURRENCE_METRICS",
    "CONCEPT_IDF", "SENTENCE_COOCCURRENCE_EXPORT", "NEAR_DUP_KEEP_BEST",
    "NEAR_DUP_INDEX_UPDATE", "NEAR_DUP_INDEX_RECONCILE", "NEAR_DUP_INDEX_KEEP_BEST",
]
COUNTERS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "exec_cpu_s": "s", "exec_util": "ratio", "shuffle_write_mb": "MB", "output_mb": "MB",
}
TOTALS = {
    "total.gc_s": "s", "total.spill_mb": "MB", "total.failed_tasks": "count",
    "total.staging_mb": "MB", "total.trace_overhead_s": "s",
}
END_TO_END = {
    "docs_per_s": "1/s", "setup_s": "s", "driver_mem_mb": "MB", "write_mb": "MB",
    "ok_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{k}.{c}": u for k in STAGE_KEYS for c, u in COUNTERS.items()}
    units.update(TOTALS)
    return units


def configure_env(work: str) -> int:
    """Process-wide settings read by pyspark and ``session.get_spark``; set
    before either is imported. Returns the usable core count."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        # session.get_spark defaults to 16g, more than a shared 15 GiB box
        # can give; 1g holds both workloads' driver state at these sizes
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # the JVM spark-submit starts to build the driver command line
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return nproc


def start_session(work: str, nproc: int):
    """The session every CLI call of the run reuses, warmed by one shuffle."""
    from translator_tm_provider_pipelines_spark.session import get_spark

    spark = get_spark(
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -UsePerfData: no perf-data file under /tmp, so the run
            # writes only inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.range(100_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM this process started."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")) / 1024


def driver_live_mb(spark) -> float:
    """Heap and non-heap memory the driver JVM still uses after a full GC."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def outputs_bytes(paths: list[str]) -> int:
    return sum(layers.tree_bytes(p) for p in paths if os.path.isdir(p))


class Runner:
    """Runs chain passes through ``cli.main`` in this process's session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = layers.StatusStore(spark)

    def run_pass(self, it: str, chain: list, traced: bool) -> dict:
        """Run ``chain`` once. Untraced, only the wall of each stage is taken
        inside the timed region; the status store is read between stages of
        the chain only around untimed ``Prep`` steps and at the ends."""
        from translator_tm_provider_pipelines_spark import cli

        import workloads

        os.makedirs(it, exist_ok=True)
        tracer = layers.Tracer(self.spark) if traced else None
        rec = {"dir": it, "traced": traced, "stages": [], "raised": [], "skipped": []}
        mark = self.store.mark()
        prep_bytes = 0
        for step in chain:
            if isinstance(step, workloads.Prep):
                if not rec["raised"]:
                    before = self.store.mark()
                    step.run()
                    prep_bytes += sum(s["outputBytes"] for s in self.store.since(before)[1])
                continue
            if rec["raised"]:
                rec["skipped"].append(step.key)
                continue
            argv = [step.key, *step.argv]
            size0 = outputs_bytes(step.outputs) if traced else 0
            try:
                with contextlib.redirect_stdout(sys.stderr):
                    if tracer is not None:
                        stage = vars(tracer.run(step.key, lambda: cli.main(argv)))
                    else:
                        t0 = time.time()
                        cli.main(argv)
                        stage = {"key": step.key, "wall_s": time.time() - t0}
            except Exception:  # a stage that raises is counted as failed
                traceback.print_exc()
                rec["raised"].append(step.key)
                continue
            if traced:
                stage["final_mb"] = (outputs_bytes(step.outputs) - size0) / layers.MB
            rec["stages"].append(stage)
        written = sum(s["outputBytes"] for s in self.store.since(mark)[1])
        rec["write_mb"] = (written - prep_bytes) / layers.MB
        rec["wall_s"] = sum(s["wall_s"] for s in rec["stages"])
        return rec


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(passes: list[dict], extra: list[dict], cores: int) -> dict[str, float]:
    """Per-stage counters, summed over the calls of one key in a pass (the
    incremental chain runs NEAR_DUP_INDEX_UPDATE once per batch), median over
    the traced passes that ran the key; ``extra`` holds traced passes outside
    the timed loop. Keys a workload does not run read 0. Totals and the
    tracing overhead come from the timed loop's passes."""
    traced = [p for p in passes if p["traced"]]
    out: dict[str, float] = {}
    for key in STAGE_KEYS:
        per_pass = []
        for p in traced + extra:
            recs = [s for s in p["stages"] if s["key"] == key]
            if not recs:
                continue
            tot = {c: sum(s[c] for s in recs) for c in COUNTERS}
            covered = sum(s["covered_s"] for s in recs)
            run_s = sum(s["exec_run_s"] for s in recs)
            tot["exec_util"] = run_s / (cores * covered) if covered > 0 else 0.0
            per_pass.append(tot)
        for c in COUNTERS:
            out[f"{key}.{c}"] = median([t[c] for t in per_pass])

    def total(fn) -> float:
        return median([sum(fn(s) for s in p["stages"]) for p in traced])

    out["total.gc_s"] = total(lambda s: s["gc_s"])
    out["total.spill_mb"] = total(lambda s: s["spill_mb"])
    out["total.failed_tasks"] = total(lambda s: s["failed_tasks"])
    out["total.staging_mb"] = total(lambda s: max(0.0, s["output_mb"] - s["final_mb"]))
    # against the untraced passes just before and after the traced one
    i = passes.index(traced[0])
    out["total.trace_overhead_s"] = traced[0]["wall_s"] - (
        passes[i - 1]["wall_s"] + passes[i + 1]["wall_s"]
    ) / 2
    return out


def make_workload(name: str, spark, root: str, seed: int):
    import workloads

    size = SIZES[name]
    if name == "kg_build":
        return workloads.KgBuild(spark, root, seed, size["n_docs"])
    return workloads.NearDup(root, seed, size["n_docs"], size["batches"])


def measure(ns, spark, work: str, setup_s: float) -> dict:
    """Generate inputs, run the timed loop, check every pass."""
    import workloads

    t0 = time.time()
    wl = make_workload(ns.workload, spark, os.path.join(work, "data"), ns.seed)
    gen_s = time.time() - t0
    runner = Runner(spark)

    def run(traced: bool) -> dict:
        it = os.path.join(work, f"pass-{len(passes)}")
        return runner.run_pass(it, wl.chain(it), traced)

    passes: list[dict] = []
    live: list[float] = []
    t_loop = time.time()
    while len(passes) < MIN_PASSES or time.time() - t_loop < ns.seconds:
        passes.append(run(traced=False))
        # between passes, so the full GC it forces is in no stage's wall
        live.append(driver_live_mb(spark))
    # the generators ran in a child process, so this is the Python
    # driver's own peak (pyspark, py4j, the CLI)
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_rss = jvm_peak_rss_mb(spark)
    if ns.trace:
        # untraced passes on both sides of the traced one: the session is
        # still warming up, so one side alone would bias the overhead
        passes.append(run(traced=True))
        passes.append(run(traced=False))
    t_checks = time.time()

    # ---- output checks, outside the timed region
    checked = list(passes)
    if isinstance(wl, workloads.NearDup):
        wl.reference = os.path.join(passes[0]["dir"], "keep")
        if ns.trace:
            # the incremental path, traced, is the reference keep list
            it = os.path.join(work, "incremental")
            inc = runner.run_pass(it, wl.incremental_chain(it), traced=True)
            checked.append(inc)
            if not inc["raised"]:
                wl.reference = os.path.join(it, "keep")
    attempted = failed = 0
    faults: dict[str, str] = {}
    for p in checked:
        try:
            bad = {} if p["raised"] else wl.check(p["dir"])
        except Exception:  # an output the check cannot read fails the pass
            traceback.print_exc()
            bad = {s["key"]: "output check raised" for s in p["stages"]}
        faults.update(bad)
        attempted += len(p["stages"]) + len(p["raised"]) + len(p["skipped"])
        failed += sum(s["key"] in bad for s in p["stages"])
        failed += len(p["raised"]) + len(p["skipped"])

    check_s = time.time() - t_checks
    sc = spark.sparkContext
    print(json.dumps({
        "workload": ns.workload, "seed": ns.seed, "seconds": ns.seconds, "trace": ns.trace,
        "settings": {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "pyspark": spark.version,
        },
        "input": wl.props,
        "setup_s": setup_s,
        "pass_wall_s": [p["wall_s"] for p in passes],
        "stage_wall_s": [[s["wall_s"] for s in p["stages"]] for p in passes],
        "faults": faults,
        "driver_live_mb": live,
        "peak_rss_mb": {"jvm": jvm_rss, "python": py_rss},
        "generate_s": gen_s,
        "check_s": check_s,
    }))

    if ns.trace:
        units = per_layer_units()
        values = layer_metrics(passes, checked[len(passes):], sc.defaultParallelism)
    else:
        units = END_TO_END
        timed = [p for p in passes if not p["raised"]]
        values = {
            "docs_per_s": wl.props["docs"] * len(timed)
            / (sum(p["wall_s"] for p in timed) or float("inf")),
            "setup_s": setup_s,
            "driver_mem_mb": max(live) + py_rss,
            "write_mb": median([p["write_mb"] for p in timed]),
            "ok_frac": 1.0 - failed / attempted,
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SIZES), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ns = ap.parse_args()
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{ns.workload}-{ns.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        nproc = configure_env(work)
        # fails fast, before any set-up, outside a checkout of the package
        import translator_tm_provider_pipelines_spark  # noqa: F401

        # set-up: process start to a warm session, so it takes in the
        # driver JVM's launch and get_spark's launch-time settings
        spark = start_session(work, nproc)
        setup_s = time.time() - T_START
        try:
            result = measure(ns, spark, work, setup_s)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
