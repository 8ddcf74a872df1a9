"""Benchmark entry point: one workload, one fresh process, one client in
a closed loop (the next pass starts when the previous one ends).

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it is the detail record, also written with the spans to
``perfbench/.runs/results/``. Everything a run writes (inputs, Spark
local dirs, warehouse, temp files) lives in ``perfbench/.runs/`` and the
per-run part is removed at exit.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS = HERE / ".runs"
DEADLINE_S = 150.0  # stop starting passes this long after process start


def process_age() -> float:
    """Seconds since this process started (from /proc, boot-time clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(")")[2].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def preflight() -> str | None:
    for rel in ("etl_pipeline_spark/__init__.py", "tools/check_oracle.py"):
        if not (ROOT / rel).is_file():
            return f"engine source not found: {ROOT / rel} (run from a full checkout)"
    return None


def launch_env(run_dir: Path) -> dict[str, str]:
    """Environment every run starts from, set before the JVM launches."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        # unset means local[32], whatever the host has
        "SPARK_GRAFT_CPUS": cpus,
        # pandas-UDF queries import the engine on the Python workers
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def spark_conf(run_dir: Path) -> dict[str, str]:
    tmp = run_dir / "tmp"
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has exited. Safe to call twice."""
    from pyspark import SparkContext

    import proctree

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while proctree.tree_pids(os.getpid()):
        if time.monotonic() > deadline:
            for pid in proctree.tree_pids(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def bench(args, run_dir: Path, env: dict[str, str]) -> tuple[dict, dict]:
    import hostprobe

    # The host-speed probe starts first and samples the host just before
    # and just after set-up; its start and samples are not set-up time.
    t0 = time.perf_counter()
    probe = hostprobe.HostProbe(int(env["SPARK_GRAFT_CPUS"]))
    try:
        for _ in range(PROBES_PER_GAP):
            probe.sample()
        probe_s = time.perf_counter() - t0

        import workloads

        from etl_pipeline_spark.session import get_spark

        wl = workloads.make(args.workload)
        t0 = time.perf_counter()
        wl.make_inputs(str(run_dir), args.seed)
        gen_s = time.perf_counter() - t0
        conf = spark_conf(run_dir)

        # Set-up runs from process start until the workload is ready:
        # interpreter, imports, JVM launch, first session and the
        # workload's own set-up, less input generation and the probe. It
        # is taken once per run: each further cold sample needs a new JVM
        # and costs as much again.
        import_s = process_age() - gen_s - probe_s
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        wl.setup(spark)
        raw_setup_s = process_age() - gen_s - probe_s
        for _ in range(PROBES_PER_GAP):
            probe.sample()
        setup_f = hostprobe.cpu_factor(probe.cpus)
        return measure(args, wl, spark, probe, {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "launch": env, "spark_conf": conf,
            "loop": "closed, 1 client",
            "input_gen_s": gen_s, "probe_start_s": probe_s, "import_s": import_s,
            "get_spark_s": get_spark_s, "raw_setup_s": raw_setup_s,
            "setup_cpu_factor": setup_f, "setup_s": raw_setup_s / setup_f,
        })
    finally:
        probe.close()


def measure(args, wl, spark, probe, detail: dict) -> tuple[dict, dict]:
    import hostprobe
    import proctree
    import stats
    import workloads
    from spans import Tracer, layer_metrics, self_times

    setup_s = detail["setup_s"]
    tracer = Tracer(spark)
    if args.trace:
        workloads.install_tracing(tracer)
    attempted, failed, warm = wl.warm_up(spark, tracer)

    pid = os.getpid()
    k0 = len(probe.cpus)  # the window's probe samples start here
    passes, window, i = [], 0.0, 0
    # The window lasts --seconds but holds at least MIN_PASSES passes, so
    # a run on a slow host still takes its median from the same pass
    # indices instead of fewer, earlier (slower) ones. MIN_PASSES passes
    # outlast the window on a quiet host too, so in practice the count
    # ends every window and every run medians the same passes. Traced runs
    # alternate untraced and traced passes after a first untraced one,
    # so the overhead compares passes past the warm-up slope.
    while window < args.seconds or len(passes) < wl.MIN_PASSES:
        if process_age() > DEADLINE_S and passes:
            break
        if len(passes) >= wl.MIN_PASSES and not any(r.ok for _, r in passes):
            break  # failed passes take no time; the window would never fill
        wl.prepare_pass(i)
        for _ in range(PROBES_PER_GAP):
            probe.sample()
        traced = bool(args.trace) and i % 2 == 1
        tracer.active, tracer.pass_id = traced, i
        h0, c0 = proctree.host_cpu_s(), proctree.cpu_split(proctree.read_all(), pid)
        rec = wl.run_pass(spark, tracer, i)
        c1, h1 = proctree.cpu_split(proctree.read_all(), pid), proctree.host_cpu_s()
        tracer.active = False
        rec.extra.update({f"cpu.{k}_s": c1[k] - c0[k] for k in c0})
        rec.host = {f"host_{k}_s": h1[k] - h0[k] for k in h0}
        passes.append((traced, rec))
        window += rec.wall
        attempted += 1
        failed += not rec.ok
        i += 1
    for _ in range(PROBES_PER_GAP):
        probe.sample()
    cpu_f = hostprobe.cpu_factor(probe.cpus[k0:])
    n_chk, f_chk, final = wl.final_check(spark)
    attempted, failed = attempted + n_chk, failed + f_chk
    probe.close()
    peak = proctree.peak_rss_mb(pid)
    stop_spark()

    good = [r for _, r in passes if r.ok]
    detail.update({
        **warm, **final,
        "host_cpu_factor": cpu_f,
        "probe_wall_s": probe.walls, "probe_cpu_s": probe.cpus,
        "passes": [
            {"traced": t, "wall_s": r.wall, "ok": r.ok, "rows": r.rows,
             **r.extra, **r.host, "ops_s": r.ops, "errors": r.errors}
            for t, r in passes
        ],
        "peak_rss_mb": peak,
    })
    if not good:
        # nothing to time: the result line carries only the counts
        return stats.result_line(False, attempted, failed, {}), detail
    walls = [r.wall for r in good]
    cpus = [sum(r.extra[f"cpu.{k}_s"] for k in ("driver", "jvm", "pyworker")) for r in good]
    # Pass figures are stated at quiet-host speed (hostprobe); the raw
    # figures stay in the detail record.
    n_cpu = os.cpu_count() or 1
    quiet = [hostprobe.at_quiet_speed(r.wall, r.host["host_steal_s"], n_cpu, cpu_f) for r in good]
    tail_v, tail_p = stats.tail(quiet)
    detail.update({"pass_tail_percentile": tail_p, "n_passes": len(walls), "window_s": window})
    if good[0].ops:
        detail["op_median_s"] = {
            q: stats.median([r.ops[q] for r in good]) for q in good[0].ops
        }
    detail.update({
        "raw_pass_s": stats.median(walls), "raw_pass_tail_s": stats.tail(walls)[0],
        "raw_rows_per_s": sum(r.rows for r in good) / sum(walls), "raw_cpu_s": stats.median(cpus),
    })
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "pass_s": stats.median(quiet),
            "pass_tail_s": tail_v,
            "rows_per_s": sum(r.rows for r in good) / sum(quiet),
            "cpu_s": stats.median(cpus) / cpu_f,
        }
        metrics = {name: stats.metric(values[name], unit) for name, unit in END_TO_END.items()}
    else:
        traced_recs = [r for t, r in passes if t and r.ok]
        plain = [r.wall for t, r in passes[1:] if not t and r.ok]
        per_pass = []
        for k, (t, r) in enumerate(passes):
            if t and r.ok:
                m = layer_metrics([s for s in tracer.spans if s.pass_id == k])
                m.update(r.extra)
                per_pass.append(m)
        overhead = (
            stats.median([r.wall for r in traced_recs]) - stats.median(plain) if plain else 0.0
        )
        metrics = {}
        for name, unit in PER_LAYER:
            vals = [m.get(name, 0.0) for m in per_pass]
            metrics[name] = stats.metric(stats.median(vals) if vals else 0.0, unit)
        metrics["peak_rss_mb"] = stats.metric(peak, "MB")
        metrics["trace.overhead_s"] = stats.metric(overhead, "s")
        spans_path = RUNS / "results" / f"{args.workload}-s{args.seed}-spans.json"
        tracer.dump(str(spans_path))
        detail.update({
            "spans_file": str(spans_path.relative_to(ROOT)),
            "self_time_s": self_times([s for s in tracer.spans if s.pass_id is not None]),
            "n_traced_passes": len(traced_recs), "trace_overhead_s": overhead,
            "traced_pass_s": [r.wall for r in traced_recs], "untraced_pass_s": plain,
            "layers_per_pass": per_pass,
        })
    result = stats.result_line(failed == 0, attempted, failed, metrics)
    return result, detail


PROBES_PER_GAP = 3  # host-speed probe samples before and after set-up, before each pass and after the last
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_tail_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
}
PER_LAYER = (
    ("catalog.load_tables_calls", "count"),
    ("catalog.load_tables_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_self_s", "s"),
    ("queries.build_jobs", "count"),
    ("spark.plan_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.input_mb", "MB"),
    ("spark.task_skew", "ratio"),
    ("session.blocks_left", "count"),
    ("cpu.driver_s", "s"),
    ("cpu.jvm_s", "s"),
    ("cpu.pyworker_s", "s"),
    ("quality.file_gate_s", "s"),
    ("sources.read_csv_s", "s"),
    ("sinks.write_s", "s"),
    ("sinks.bytes_written_mb", "MB"),
    ("sinks.files_written", "count"),
    ("pipelines.ingest_self_s", "s"),
    ("pipelines.quarantine_frac", "ratio"),
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "corpus_prep", "etl_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    err = preflight()
    if err:
        print(err, file=sys.stderr)
        return 2
    run_dir = RUNS / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (RUNS / "results").mkdir(parents=True, exist_ok=True)
    env = launch_env(run_dir)
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    try:
        result, detail = bench(args, run_dir, env)
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    out = RUNS / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.write_text(json.dumps({"result": result, "detail": detail}, indent=1))
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
