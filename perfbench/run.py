"""Lake benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload geo_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(and the span file lands in ``.perfbench_traces/``). See README.md.

The run gets a private work area under ``.perfbench_work/`` holding the
temp dir (``TMPDIR``), the JVM temp dir, Spark's local dir, the generated
inputs, store roots and checkpoints; it is deleted when the run ends, and
the Spark JVM and its Python workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datalake_imagenes_georreferenciadas_spark"
WORKLOADS = ("geo_ingest", "query_mix")

sys.path.insert(0, HERE)

import harness  # noqa: E402


class Context:
    """What a workload gets: its seed and time budget, the tracer, the
    private work area, and a session starter."""

    def __init__(self, seed: int, seconds: float, tracer: harness.Tracer, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.data = os.path.join(work, "data")
        self.tmp = os.path.join(work, "tmp")
        self.spark = None
        self.session_starts: list[float] = []
        os.makedirs(self.data, exist_ok=True)

    def start_session(self):
        """Stop the current session (if any) and start the program's own
        one through ``session.get_spark``; returns its start time (s)."""
        from datalake_imagenes_georreferenciadas_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()

        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        self.session_starts.append(dt)
        return dt


def spark_cores() -> int:
    """Task slots of the local session: half the cores. Each slot's task
    keeps a Python worker busy too, and the JVM's compiler and collector
    threads and the client need cores of their own; on 4 shared cores,
    local[2] ran batches and passes as fast as local[4] and spread less
    from run to run."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _launch_env(work: str) -> None:
    """Environment the JVM and Python workers inherit: every temp and
    local dir inside ``work``, the package importable by workers, and
    ``local[spark_cores()]``."""
    tmp, jtmp, local = (os.path.join(work, d) for d in ("tmp", "jvm-tmp", "spark-local"))
    for d in (tmp, jtmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={jtmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _shutdown(ctx: Context | None) -> None:
    """Stop Spark, then the JVM, then wait for every descendant."""
    pids = harness.descendants(os.getpid())
    if ctx is not None and ctx.spark is not None:
        try:
            ctx.spark.stop()
        except Exception as e:  # noqa: BLE001 - shutdown must go on
            print(f"# spark.stop failed: {e!r}", file=sys.stderr)
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    pids = sorted(set(pids) | set(harness.descendants(os.getpid())))
    for p in harness.wait_gone(pids, 10.0):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    harness.wait_gone(pids, 5.0)


def _cpu_ticks() -> list[int]:
    """The machine's summed CPU time counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    load_start, ticks_start = os.getloadavg(), _cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _launch_env(work)
    os.chdir(work)  # relative writes (warehouse, derby) stay inside the work area

    import importlib

    module = importlib.import_module(args.workload)
    tracer = harness.Tracer(enabled=bool(args.trace))
    ctx = None
    try:
        ctx = Context(args.seed, args.seconds, tracer, work)
        with harness.RssSampler() as rss:
            res = module.run(ctx)
        res.notes["peak_rss_mb"] = rss.peak_mb
        if tracer.enabled:
            res.layers["process.peak_rss_mb"] = rss.peak_mb
            res.layers["session.start_s"] = harness.median(ctx.session_starts)
            res.layers["trace.overhead_s"] = tracer.overhead_s
            res.layers.update({f"trace.{k}": v for k, v in res.e2e.items()})
            tracer.write(os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}.json"))
    finally:
        _shutdown(ctx)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:  # a layer this workload makes no calls into reads 0
        res.layers = {m["name"]: res.layers.get(m["name"], 0) for m in wanted}
    values = res.layers if args.trace else res.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: workload did not produce {missing}", file=sys.stderr)
        return 3
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    print(
        "# "
        + json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "nproc": len(os.sched_getaffinity(0)),
                "spark_cores": spark_cores(),
                "loadavg_start": load_start,
                "loadavg_end": os.getloadavg(),
                # CPU time the hypervisor gave to other guests during the run;
                # timings rise with it on a shared host
                "steal_frac": ticks[7] / max(sum(ticks), 1),
                "notes": res.notes,
                "end_to_end": res.e2e,
            }
        ),
        file=sys.stderr,
    )
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: _metric(values[m["name"]], m["unit"]) for m in wanted},
    }
    print(json.dumps(out))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
