"""Benchmark entry point: one closed-loop client driving a local Spark
session through one workload.

    python3 perfbench/run.py --workload match_broadcast --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{correct, attempted, failed, metrics}: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The exit code is
non-zero when any output is wrong. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# session set-ups per run: the first launches the JVM (cold), the others
# restart the session in it (warm); setup_s is the median of all of them
SETUPS = 3
MIN_PASSES = 3

# per_layer metrics filled from span totals: span name -> metric
PASS_SPANS = ("spark.build", "spark.exec", "tiling.mvt", "io.snapshot_read")
PROBE_SPANS = ("graph.collect", "graph.pack", "graph.hydrate",
               "matching.candidates", "matching.solve", "shard.edge_coords",
               "shard.cover", "shard.candidates", "shard.subgraph",
               "tiling.assign", "zones.assign", "tiling.pyramid",
               "io.snapshot_write", "functions.decode", "functions.cells")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and every Python
    worker single-threaded; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        # few glibc malloc arenas: the JVM's many native threads otherwise
        # leave a resident footprint that differs from run to run
        "MALLOC_ARENA_MAX": "2",
    })
    import tempfile
    tempfile.tempdir = tmp


def start_session(work: str, cores: int, trace: bool):
    from routers_spark.session import get_spark

    conf = {
        # a fixed 2 GB driver heap: with the session's 8 GB default the
        # JVM's resident peak swings by gigabytes between identical runs
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Xmn256m -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + logdir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(f"local[{cores}]", app_name="perfbench",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_everything(spark) -> None:
    """Stop the session, the gateway JVM and every remaining descendant,
    and wait until they have all exited."""
    import host
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the sweep below
            proc.kill()
            proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.time() + 30
    while True:
        left = [p for p in host.process_tree() if p != me]
        if not left:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def one_pass(wl, traced: bool) -> dict:
    """One timed pass, then the accuracy check outside the timed region."""
    import host

    wl.tracer.enabled = traced
    mark = len(wl.tracer.spans)
    written0 = wl.written_bytes()
    cpu0 = host.tree_cpu_seconds()
    t0 = time.perf_counter()
    try:
        with wl.layer("pass" if traced else "plain"):
            out = wl.run_pass()
    except Exception:  # noqa: BLE001 - a raising pass counts as all-failed
        traceback.print_exc(file=sys.stderr)
        out = None
    wall = time.perf_counter() - t0
    cpu = host.tree_cpu_seconds() - cpu0
    wl.tracer.enabled = False
    written = wl.written_bytes() - written0
    units = wl.inputs.units
    correct, failed, counters = 0, units, {}
    if out is not None:
        try:
            correct, failed = wl.check(out)
            counters = wl.counters(out)
        except Exception:  # noqa: BLE001 - unreadable output is wrong output
            traceback.print_exc(file=sys.stderr)
            correct, failed = 0, units
    return {"wall": wall, "cpu": cpu, "correct": correct, "failed": failed,
            "counters": counters, "spans": wl.tracer.spans[mark:],
            "written": written}


def pass_count(wl, seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / wl.nominal_pass_s))


def end_to_end(wl, passes, setups) -> dict:
    """Throughput and CPU over the whole timed wall of the run: against host
    speed swings that outlast one pass, a mean over passes is steadier than
    their median."""
    return {
        "rows_per_s": wl.inputs.units * len(passes)
        / sum(p["wall"] for p in passes),
        "cpu_s": sum(p["cpu"] for p in passes) / len(passes),
        "peak_rss_mb": wl.peak_rss_mb,
        "accuracy": sum(p["correct"] for p in passes)
        / (wl.inputs.units * len(passes)),
        "setup_s": statistics.median(s["total"] for s in setups),
    }


def per_layer(wl, plain, traced, paired, setups, probes, spark_metrics,
              host_diag, generate_s) -> dict:
    import spans as S

    m = {
        "session.start_s": setups[0]["session"],
        "setup.cold_s": setups[0]["total"],
        "inputs.generate_s": generate_s,
        "inputs.rows": wl.inputs.rows,
        "inputs.mb": wl.inputs.mb,
    }
    per_pass = []
    attributed = []
    for p in traced:
        names = S.by_name(p["spans"])
        per_pass.append(names)
        root = next(s for s in p["spans"] if s.name == "pass")
        attributed.append(1.0 - S.self_times(p["spans"])[root.span_id]
                          / root.duration)
    for name in PASS_SPANS:
        m[f"{name}_s"] = statistics.median(
            t.get(name, {}).get("total", 0.0) for t in per_pass)
    probe_names = S.by_name(probes["spans"])
    for name in PROBE_SPANS:
        m[f"{name}_s"] = probe_names.get(name, {}).get("total", 0.0)
    for key in ("graph.broadcast_mb", "matching.candidates_per_point",
                "matching.kernel_rows_per_s", "shard.sigs",
                "shard.largest_sig_share", "shard.subgraph_edges_per_sig",
                "functions.decode_mb"):
        m[key] = probes["metrics"].get(key, 0.0)
    counters = traced[-1]["counters"]
    for key in ("matching.trips_matched", "matching.trips_unmatched",
                "tiling.tiles_per_image", "zones.hit_ratio"):
        m[key] = counters.get(key, 0.0)
    in_bytes = wl.inputs.mb * (1 << 20)
    m["io.write_amplification"] = statistics.median(
        p["written"] for p in traced) / in_bytes
    m.update(spark_metrics)
    m["trace.overhead_ratio"] = (
        statistics.median(p["wall"] for p in traced)
        / statistics.median(p["wall"] for p in paired) - 1.0)
    m["trace.attributed_ratio"] = min(attributed)
    m.update(host_diag)
    attempted = wl.inputs.units * len(plain)
    m["failed_ratio"] = sum(p["failed"] for p in plain) / attempted
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still stops its JVM and workers (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        import routers_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import host
    import inputs as I
    import spans as S
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    calib0, ticks0 = host.calibration_rate(), host.cpu_ticks()
    tracer = S.Tracer(enabled=False)
    wl = workloads.WORKLOADS[args.workload](tracer)
    t0 = time.perf_counter()
    wl.inputs = wl.generate(args.seed, work)
    generate_s = time.perf_counter() - t0
    I.check_pins(args.workload, args.seed, wl.inputs.fingerprint, I.load_pins())
    host.reset_own_peak_rss()

    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    trace = bool(args.trace)
    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            spark = start_session(work, cores, trace)
            t_session = time.perf_counter() - t0
            wl.open(spark)
            with wl.layer("warmup"):
                wl.run_pass()
            setups.append({"session": t_session,
                           "total": time.perf_counter() - t0})
            if k < SETUPS - 1:
                spark.stop()
        app_id = spark.sparkContext.applicationId

        n = pass_count(wl, args.seconds)
        plain = [one_pass(wl, False) for _ in range(n)]
        tree = host.process_tree()
        wl.peak_rss_mb = host.peak_rss_mb(tree)
        rss_by_process = host.peak_rss_by_process(tree)
        traced, paired, probes = [], [], None
        if trace:
            # traced passes alternate with untraced ones (first one, then
            # the other), so pass speed that still drifts over a session
            # does not read as tracing overhead
            for k in range(max(2, n // 2)):
                for on in ((True, False) if k % 2 == 0 else (False, True)):
                    (traced if on else paired).append(one_pass(wl, on))
            tracer.enabled = True
            mark = len(tracer.spans)
            with wl.layer("probe"):
                probe_metrics = wl.probe()
            tracer.enabled = False
            probes = {"spans": tracer.spans[mark:], "metrics": probe_metrics}
        spark.stop()
        spark = None
    finally:
        stop_everything(spark)

    host_diag = {"host.calib_rate": (calib0 + host.calibration_rate()) / 2,
                 "host.steal_pct": host.steal_pct(ticks0, host.cpu_ticks())}
    runs = plain + paired + traced
    attempted = wl.inputs.units * len(runs)
    failed = sum(p["failed"] for p in runs)
    accuracies = {p["correct"] for p in runs}
    correct = failed == 0 and accuracies == {wl.inputs.units}

    if trace:
        import eventlog

        log = os.path.join(work, "eventlog", f"eventlog_v2_{app_id}")
        spark_metrics = eventlog.summarize(
            log, lambda label: label.startswith(f"{wl.name}:pass"),
            per=len(traced))
        metrics = per_layer(wl, plain, traced, paired, setups, probes,
                            spark_metrics, host_diag, generate_s)
    else:
        metrics = end_to_end(wl, plain, setups)
    units = _units()
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    keep = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(dict(result, fingerprint=wl.inputs.fingerprint,
                       passes=[{k: p[k] for k in ("wall", "cpu", "correct",
                                                  "failed", "counters")}
                               for p in runs],
                       setups=setups, rss_by_process=rss_by_process,
                       host=host_diag), f, indent=1)
    print(json.dumps(result))
    return 0 if correct else 1


def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
