"""Extraction benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload text_pages --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one table

A run starts Spark at ``local[N]`` with N = nproc, generates the
workload's inputs from ``--seed`` in this process (twice, to check they are
byte-identical), stages them, runs untimed warm-up passes (the first spawns
a Python worker in every task slot, the rest warm the JVM's JIT), then runs
whole passes for ``--seconds``.  It checks the last pass's output,
prints a detail line and, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
window with spans on every other pass, then the layer probes, and reports
the per-layer metrics (the full ledger and the spans go to
``.perfbench-out/``).  Scratch data lives in ``.perfbench-work/`` under the
working directory and is removed at exit.
"""

import time

_PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_REPS = 2  # generations per run: the byte-identity check; set-up takes their median

END_TO_END_UNITS = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
    "doc_ok_frac": "fraction",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "setup.input_s": "s",
    "setup.warmup_s": "s",
    "cpu_s_per_kdoc": "s",
    "spark.jobs_per_pass": "count",
    "spark.tasks_per_pass": "count",
    "trace.docs_per_s_ratio": "ratio",
    "source.plan_ms": "ms",
    "source.scan_s": "s",
    "spark.arrow_roundtrip_s": "s",
    "operator.plan_ms": "ms",
    "operator.pass_s": "s",
    "kernel.us_per_doc": "us",
    "kernel.ceiling_docs_per_s": "1/s",
    "operator.ceiling_share": "fraction",
    "pass.run_s": "s",
    "pass.overhead_s": "s",
    "sink.output_mb": "MB",
    "sink.files_written": "count",
    "sink.bytes_written_per_input_byte": "ratio",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _import_engine():
    """Make the checkout importable here and in Spark's Python workers
    (they inherit PYTHONPATH from the JVM this process launches)."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import pdf_extraction_spark

    if not os.path.abspath(pdf_extraction_spark.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"pdf_extraction_spark resolves outside {ROOT}")


def _start_spark(cpus: int, work: str):
    from pdf_extraction_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return get_spark(
        app="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def _stop_spark(spark) -> None:
    """Stop Spark, its JVM and the Python workers under it, and the
    multiprocessing helper the bare-kernel probes start; wait for all."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    from perfbench.ledger import alive, descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, started):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _pass_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
    return len(jobs), tasks


def run_one(args) -> int:
    from perfbench import inputs
    from perfbench.ledger import (
        Tracer,
        cpu_ticks,
        env_stamp,
        median_spread,
        steal_frac,
        timed,
        tree_cpu_s,
        worker_peak_rss_mb,
    )
    from perfbench.workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench-work", f"{args.workload}-{os.getpid()}")
    tracer = Tracer(enabled=bool(args.trace))
    untraced = Tracer(enabled=False)
    env = env_stamp(ROOT, cpus)
    spark = None
    try:
        # --- set-up: session, inputs, warm-up ---------------------------
        with tracer.span("session.start"):
            t_session, spark = timed(_start_spark, cpus, work)
        sc = spark.sparkContext
        input_s, digests = [], set()
        for _ in range(INPUT_REPS):
            t0 = time.perf_counter()
            staged = inputs.BUILDERS[args.workload](args.seed, wl_cls.docs, wl_cls.files)
            digests.add(staged.digest())
            input_s.append(time.perf_counter() - t0)
        if len(digests) != 1:
            raise RuntimeError(f"{args.workload}: generations with seed {args.seed} differ")
        wl = wl_cls(spark, work, staged, cpus)
        t_stage, _ = timed(staged.write, wl.input_dir)
        t0 = time.perf_counter()
        for k in range(wl.warmup_passes):
            sc.setJobGroup(f"warmup-{k}", f"perfbench {args.workload} warm-up")
            wl.run_pass(-1 - k, untraced)
        t_warm = time.perf_counter() - t0
        # what a single set-up costs, with the repeatable part at its median
        setup_s = t_session + statistics.median(input_s) + t_stage + t_warm
        setup_wall_s = time.monotonic() - _PROCESS_START

        # --- the timed window: whole passes --------------------------------
        pass_s, traced_s, untraced_s = [], [], []
        cpu0, ticks0 = tree_cpu_s(os.getpid()), cpu_ticks()
        t_open = time.perf_counter()
        k = 0
        while True:
            traced = bool(args.trace) and k % 2 == 0
            tr = tracer if traced else untraced
            sc.setJobGroup(f"pass-{k}", f"perfbench {args.workload} pass {k}")
            t0 = time.perf_counter()
            with tr.span("pass", k=k):
                wl.run_pass(k, tr)
            dt = time.perf_counter() - t0
            pass_s.append(dt)
            (traced_s if traced else untraced_s).append(dt)
            k += 1
            if time.perf_counter() - t_open >= args.seconds:
                break
        window_s = time.perf_counter() - t_open
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        steal = steal_frac(ticks0, cpu_ticks())
        rss_mb = worker_peak_rss_mb(os.getpid())
        docs_done = wl.docs * len(pass_s)
        docs_per_s = docs_done / window_s
        jobs, tasks = _pass_counts(sc, f"pass-{k - 1}")

        # --- correctness of the last pass's output ---------------------------
        check = wl.check()
        doc_ok_frac = check.ok / check.attempted
        for url in check.bad_urls[:20]:
            _log(f"MISMATCH {url}")
        for note in check.notes:
            _log(f"MISMATCH {note}")

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "env": {**env, "steal_frac_window": steal},
            "inputs": staged.describe(),
            "inputs_byte_identical": len(digests) == 1,
            "window": {
                "seconds": window_s,
                "passes": len(pass_s),
                "docs": docs_done,
                "pass_s": pass_s,
                "pass_docs_per_s": median_spread([wl.docs / s for s in pass_s]),
            },
            "setup": {
                "session_start_s": t_session,
                "input_s": input_s,
                "stage_s": t_stage,
                "warmup_s": t_warm,
                "wall_s": setup_wall_s,
            },
            "check": {
                "attempted": check.attempted,
                "ok": check.ok,
                "mismatch_urls": check.bad_urls[:50],
                "notes": check.notes,
            },
        }
        if args.trace:
            ratio = (
                statistics.median(untraced_s) / statistics.median(traced_s)
                if traced_s and untraced_s else 1.0
            )
            roles = {
                "session.start_s": t_session,
                "setup.input_s": statistics.median(input_s) + t_stage,
                "setup.warmup_s": t_warm,
                "cpu_s_per_kdoc": cpu_s / docs_done * 1000,
                "spark.jobs_per_pass": jobs,
                "spark.tasks_per_pass": tasks,
                "trace.docs_per_s_ratio": ratio,
            }
            with tracer.span("probes"):
                roles.update(wl.probes(docs_per_s, statistics.median(pass_s)))
            ledger = wl.ledger(roles)
            detail["ledger"] = ledger
            detail["layer_self_s"] = _self_times(tracer)
            tracer.counts.update(
                {"jobs_per_pass": jobs, "tasks_per_pass": tasks, "docs_per_pass": wl.docs}
            )
            out = os.path.join(os.getcwd(), ".perfbench-out")
            tracer.dump(
                os.path.join(out, f"trace-{args.workload}-{args.seed}-{tracer.run_id}.json"),
                {"detail": detail},
            )
            metrics = {n: {"value": roles[n], "unit": u} for n, u in PER_LAYER_UNITS.items()}
        else:
            values = {
                "docs_per_s": docs_per_s,
                "setup_s": setup_s,
                "worker_peak_rss_mb": rss_mb,
                "doc_ok_frac": doc_ok_frac,
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
        print(json.dumps({"detail": detail}), flush=True)
        print(
            json.dumps(
                {
                    "correct": check.ok == check.attempted,
                    "attempted": check.attempted,
                    "failed": check.attempted - check.ok,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


def _self_times(tracer) -> dict:
    """Per span name: total duration minus what its child spans cover."""
    child = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in tracer.spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out


def run_all(args) -> int:
    """Each workload in its own process, one table of end-to-end metrics."""
    from perfbench.workloads import WORKLOADS

    rows, rc = [], 0
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        sys.stderr.write(proc.stderr)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            _log(f"{name}: exit {proc.returncode}")
            rc = 1
            continue
        result = json.loads(lines[-1])
        for metric, v in result["metrics"].items():
            rows.append((name, metric, v["value"], v["unit"]))
        rows.append((name, "correct", result["correct"], ""))
    for name, metric, value, unit in rows:
        shown = f"{value:.6g}" if isinstance(value, float) else str(value)
        print(f"{name:18s} {metric:36s} {shown:>14s} {unit}")
    return rc


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        _import_engine()
    except ImportError as e:
        _log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
