"""Paper-path benchmark: JSON lines -> relational tables.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_nested --seed 1 --seconds 20 --trace 0

Workloads: ``bulk_nested`` and ``stream_demux`` (see ``pipelines.py``
and README.md). One run starts two set-up probes (none when traced)
and its own session, generates the seeded corpus, then runs units
(passes or micro-batches): for ``bulk_nested`` the cold pass, then warm
passes until ``--seconds`` of them have passed (at least ``MIN_WARM``);
the stream always runs all of its batches, then lands its typed tables
``STREAM_LANDS`` times. It checks every output against the generator's
predictions outside the timed region, and prints one JSON object as
its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run wraps the package's public functions in spans
(``spans.py``) and reports the per-layer metrics instead; it also
leaves its spans, one JSON object a line, in
``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

import time

T0 = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.getcwd(), HERE]

import sparkenv  # noqa: E402  (imports pyspark and the package)

#: the same imports as a set-up probe's, so the run's own set-up
#: sample measures what the probes measure
IMPORT_S = time.perf_counter() - T0

import argparse  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402

from pipelines import WORKLOADS  # noqa: E402

#: set-up probes per run, besides the run's own session start
SETUP_PROBES = 2
#: warm bulk passes per run, at least. Unit times keep falling for
#: several units while HotSpot compiles, and how fast they fall differs
#: from run to run; the warm metrics therefore take every unit after
#: the cold one, as their total over their count, which varies less
#: between runs than a median of the late ones.
MIN_WARM = 4
#: the traced run's per-layer metrics cover the cold pass and the next
#: two passes (the whole stream for stream_demux), so its counts do not
#: depend on how many passes fit in --seconds
TRACE_WINDOW = 3
#: finalize + write repetitions of the stream's typed tables
STREAM_LANDS = 6
#: once a warm unit has run, stop starting new units after this many
#: seconds of process time, whatever --seconds says, so that a run ends
#: well inside 180 s
HARD_STOP_S = 140


def probe_setup() -> float:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "probe_setup.py")],
        capture_output=True,
        text=True,
        timeout=90,
        check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: time the host
    gave this machine's CPUs to others counts as steal."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stamp(spark, seed: int, load_start, ticks_start) -> dict:
    jvm = spark._jvm
    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    return {
        "nproc": sparkenv.cores(),
        "master": spark.sparkContext.master,
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "steal_pct": round(100 * steal / max(total, 1), 2),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_heap_mb": jvm.Runtime.getRuntime().maxMemory() // 2**20,
        "seed": seed,
    }


def run_units(wl, seconds: float, tracer) -> tuple[list, int, int, list]:
    """Returns (units as (wall, sink) pairs, attempted, failed,
    stream land walls)."""
    stream = hasattr(wl, "land")
    units, lands = [], []
    attempted = failed = 0
    i = 0
    while True:
        attempted += 1
        if tracer:
            tracer.begin_unit(i, counted=stream or i < TRACE_WINDOW)
        units.append(wl.run_unit(i))
        if not stream:
            failed += int(wl.check() > 0)
            if tracer:
                tracer.add("sink.rows_out", wl.rows_out)
        i += 1
        if i == 1:
            warm_start = time.perf_counter()
        if stream:
            if i == wl.batches:
                break
        elif i > MIN_WARM and time.perf_counter() - warm_start >= seconds:
            break
        if i >= 2 and time.perf_counter() - T0 > HARD_STOP_S:
            break
    if stream:
        for n in range(STREAM_LANDS):
            attempted += 1
            if tracer:
                tracer.begin_unit("land", counted=n == 0)
            lands.append(wl.land())
            failed += int(wl.check() > 0)
            if tracer:
                tracer.add("sink.rows_out", wl.rows_out)
    return units, attempted, failed, lands


def sink_samples(units: list, lands: list) -> list[float]:
    """The stream's landings after the first, else the sink part of
    every pass after the cold one."""
    return lands[1:] if lands else [s for _, s in units[1:]]


def end_to_end(wl, setup: list[float], units: list, lands: list) -> dict:
    warm = units[1:]
    sinks = sink_samples(units, lands)
    return {
        "setup_s": (statistics.median(setup), "s"),
        "cold_pass_s": (units[0][0], "s"),
        "objects_per_s": (wl.objects * len(warm) / sum(w for w, _ in warm), "objects/s"),
        "sink_s": (sum(sinks) / len(sinks), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = list(os.getloadavg())
    ticks_start = cpu_ticks()
    root = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run_", dir=root)
    spark = None
    try:
        sparkenv.point_env_at(work)
        setup = [] if args.trace else [probe_setup() for _ in range(SETUP_PROBES)]
        tracer = None
        if args.trace:
            import spans as tracing

            tracer = tracing.Tracer()
        t = time.perf_counter()
        spark = sparkenv.start_session(tracer.session_conf() if tracer else None)
        setup.append(IMPORT_S + time.perf_counter() - t)
        if tracer:
            tracer.attach(spark, session_start_s=time.perf_counter() - t)
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        if tracer:
            tracer.install()
        try:
            units, attempted, failed, lands = run_units(wl, args.seconds, tracer)
        finally:
            if tracer:
                tracer.uninstall()
        e2e = end_to_end(wl, setup, units, lands)
        if tracer:
            report = tracer.metrics(wl.choice_cols())
            report.update({f"traced.{k}": v for k, v in e2e.items() if k != "setup_s"})
            tracer.dump(os.path.join(root, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            report = e2e
        info = stamp(spark, args.seed, load_start, ticks_start)
    finally:
        if spark is not None:
            sparkenv.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(root):
            os.rmdir(root)

    info.update(
        workload=args.workload,
        setup_s=[round(x, 3) for x in setup],
        unit_s=[round(w, 3) for w, _ in units],
        sink_samples_s=[round(x, 3) for x in sink_samples(units, lands)],
        failed_ratio=failed / attempted,
        summary=" ".join(f"{k}={v:.4g}{u}" for k, (v, u) in report.items()),
    )
    print("perfbench " + json.dumps(info))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
