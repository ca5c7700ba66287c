"""perfbench: the repository benchmark for fonduer_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

One driver process runs one workload closed-loop with one client on
``local[<cores>]``. It sets up once (session start, seeded input generation
and two warmup runs on the generated input), then repeats the workload until
``--seconds`` have passed (at least ``MIN_ITERATIONS`` times), checking
every output outside the timed region, and reports the end-to-end metrics.
``--trace 1`` is the separate traced run: its session has the Spark UI on,
the workload runs without and with spans in the order off, on, on, off (the
gap is the tracing overhead), then it is split into layers, and the run
reports the per-layer metrics.

The last stdout line is the result record ``{"correct", "attempted",
"failed", "metrics"}``; the line before it holds the details (every sample,
session settings, machine probe, spans). Every file a run writes lives
under ``.perfbench/`` in the working directory and is removed at exit.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DRIVER_MEMORY = "4g"     # below physical RAM (get_spark defaults to 48g)
MIN_ITERATIONS = 3
# the first run after session start pays JVM and worker start-up; the
# second is still ~10% slower than the later ones (JIT)
WARMUP_RUNS = 2
# traced run: without and with spans; a linear drift over the runs cancels
OVERHEAD_ORDER = (False, True, True, False)
# peak_rss_mb is measured on every run but reported by the traced run:
# the JVM heap grows differently from run to run (spread ~0.2 over seeds)
END_TO_END_UNITS = {"wall_s": "s", "docs_per_s": "1/s", "cpu_s": "s",
                    "setup_s": "s"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure(root: str, work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before the first session starts the JVM."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d)
    env = {
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": tmp,
        # the Python workers import the program and SkewRender from here
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "--conf spark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "pyspark-shell"]),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def start_session(ui: bool):
    from fonduer_spark.session import get_spark

    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    spark = get_spark("perfbench", cores=cores(), driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_settings(spark) -> dict:
    conf = spark.sparkContext.getConf()
    out = {k: conf.get(k, None) for k in (
        "spark.master", "spark.driver.memory", "spark.ui.enabled",
        "spark.sql.shuffle.partitions", "spark.speculation",
        "spark.sql.adaptive.enabled")}
    out.update({"SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
                "spark_version": spark.version, "cores": cores(),
                "python": sys.version.split()[0]})
    return out


def shutdown(spark, tree) -> None:
    """Stop the session and the JVM, then wait until every process this run
    started (the JVM, the PySpark daemon and its workers) has ended."""
    from pyspark import SparkContext

    from probes import alive

    if spark is not None:
        spark.stop()
    # the PySpark daemon outlives the JVM briefly and is re-parented, so
    # the processes to wait for are taken before the JVM goes
    started = [p for p in tree.pids() if p != os.getpid()]
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        left = [p for p in started if alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def setup(name, work, seed, sizes, ui):
    """Session start + seeded input generation + warmup runs on the
    generated input; returns (session, workload, seconds)."""
    import inputs as gen
    from workloads import WORKLOADS, release_caches

    t0 = time.perf_counter()
    spark = start_session(ui)
    inp = gen.generate(name, os.path.join(work, "in"), work, seed, sizes)
    wl = WORKLOADS[name](inp)
    for _ in range(WARMUP_RUNS):
        wl.finish(spark, wl.run(spark))
        release_caches(spark)
    return spark, wl, time.perf_counter() - t0


def one_run(spark, wl, tree, sampler, tracer=None, span=None) -> dict:
    """One timed request: wall, CPU and peak RSS of the process tree and the
    machine probe, then the output check (untimed)."""
    from bench import _machine_probe
    from workloads import persisted_rdds, release_caches

    def request():
        if tracer is None:
            return wl.run(spark)
        with tracer.span(span, parent="run"):
            return wl.run(spark)

    s = {"ok": False, "traced": tracer is not None}
    release_caches(spark)
    sampler.take_peak()
    cpu0 = tree.cpu_s()
    t0 = time.perf_counter()
    try:
        out, _, machine = _machine_probe(request)
        s["wall_s"] = time.perf_counter() - t0
        s["cpu_s"] = tree.cpu_s() - cpu0
        s["peak_rss_mb"] = sampler.take_peak() / (1024 * 1024)
        s.update(machine)
        if hasattr(wl, "last_resume_s"):
            s["resume_s"] = wl.last_resume_s
        s["error"] = wl.check(spark, out)
        wl.finish(spark, out)
        s["ok"] = s["error"] is None
    except Exception as e:  # a failed run is counted, not fatal
        s["error"] = f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)
    s["persisted_rdds_after"] = persisted_rdds(spark)
    release_caches(spark)
    return s


def measure(spark, wl, seconds, tree, sampler) -> list:
    """Closed loop, one client: the next run starts when the last ends."""
    samples = []
    t_end = time.perf_counter() + seconds
    while len(samples) < MIN_ITERATIONS or time.perf_counter() < t_end:
        samples.append(one_run(spark, wl, tree, sampler))
    return samples


def end_to_end(samples, n_docs, setup_s) -> dict:
    ok = [s for s in samples if s["ok"]] or [
        s for s in samples if "wall_s" in s]
    wall = median([s["wall_s"] for s in ok])
    out = {"wall_s": wall, "docs_per_s": n_docs / wall,
           "cpu_s": median([s["cpu_s"] for s in ok]),
           "peak_rss_mb": median([s["peak_rss_mb"] for s in ok]),
           "setup_s": setup_s}
    resumes = [s["resume_s"] for s in ok if "resume_s" in s]
    if resumes:  # kg_checkpointed only: kept in the details
        out["resume_s"] = median(resumes)
    return out


def traced_layers(spark, wl, tree, sampler, details) -> tuple:
    """The traced pass, on a session with the UI on. The tracing overhead is
    the gap between the medians of the runs with and without spans; the
    spanned runs give the engine metrics. Then the workload's layer split.

    Spark's status listeners, which feed the REST API, run with the UI off
    too; the UI adds its web server, which the runs do not query."""
    from probes import SparkRest, stage_totals
    from workloads import LAYERS, Tracer

    tracer = Tracer(spark)
    samples = [one_run(spark, wl, tree, sampler, tracer if traced else None,
                       f"run#{k}") for k, traced in enumerate(OVERHEAD_ORDER)]
    plain = median([s["wall_s"] for s in samples
                    if s["ok"] and not s["traced"]])
    spanned = median([s["wall_s"] for s in samples
                      if s["ok"] and s["traced"]])
    rest = SparkRest(spark)
    runs = [s["name"] for s in tracer.spans]
    stages = rest.group_stages(runs)
    totals = [stage_totals(stages[r]) for r in runs]
    layers = {f"spark.{k}": median([t[k] for t in totals]) for k in totals[0]}
    layers["spark.max_task_s"] = median(
        [rest.max_task_s(stages[r]) for r in runs])
    layers["trace.overhead_s"] = spanned - plain
    layers["trace.overhead_pct"] = 100 * (spanned / plain - 1)
    try:
        metrics, errors = wl.traced(spark, tracer)
        layers.update(metrics)
    except Exception as e:
        errors = [f"{type(e).__name__}: {e}"]
        traceback.print_exc(file=sys.stderr)
    # a failed check of the traced pass counts as a failed run
    samples += [{"ok": False, "error": e} for e in errors]
    timed = [s for s in samples if "wall_s" in s]
    layers["peak_rss_mb"] = median([s["peak_rss_mb"] for s in timed])
    layers["session.persisted_rdds_after"] = timed[-1]["persisted_rdds_after"]
    layers["bench.error_rate"] = sum(not s["ok"] for s in samples) / len(samples)
    for k in ("obtained_cores", "steal_frac"):
        layers[f"machine.{k}"] = median([s[k] for s in timed])
    for ms in LAYERS.values():
        for m in ms:
            layers.setdefault(m, 0)  # a layer this workload does not run
    details["spans"] = tracer.spans
    return layers, samples


def benchmark(args, work) -> tuple:
    import inputs as gen
    from probes import ProcTree, RssSampler

    sizes = gen.SMALL if args.small else gen.Sizes()
    tree = ProcTree()
    details = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace}
    spark = None
    try:
        # the UI (and its REST API) is on in the traced run only
        spark, wl, setup_s = setup(args.workload, work, args.seed, sizes,
                                   bool(args.trace))
        details["session"] = session_settings(spark)
        t0 = time.perf_counter()
        wl.prepare(spark)
        details["oracle_s"] = time.perf_counter() - t0
        layers = None
        with RssSampler(tree) as sampler:
            if args.trace:
                layers, samples = traced_layers(spark, wl, tree, sampler,
                                                details)
            else:
                samples = measure(spark, wl, args.seconds, tree, sampler)
        e2e = end_to_end([s for s in samples if not s.get("traced")],
                         wl.inp.n_docs, setup_s)
    finally:
        shutdown(spark, tree)
    details.update(n_docs=wl.inp.n_docs, end_to_end=e2e, samples=samples)
    return e2e, layers, samples, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs (the self-test)")
    args = ap.parse_args(argv)
    # a stopped run still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import bench  # noqa: F401  (its machine probe)
        import fonduer_spark  # noqa: F401  (the program under test)
        from workloads import LAYER_UNITS, WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        env = configure(root, work)
        e2e, layers, samples, details = benchmark(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # if no other run uses it
        except OSError:
            pass
    details["env"] = env
    print(json.dumps({"perfbench_details": details}, default=str))
    failed = sum(not s["ok"] for s in samples)
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:  # no run got that far: there is no result to report
        print(f"perfbench: not measured: {bad}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": len(samples),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
