#!/usr/bin/env python3
"""Benchmark entry point for datapump-spark.

    python3 perfbench/run.py --workload pump --seed 1 --seconds 20 --trace 0

Workloads (closed loop, one client; see METRICS.md for why each exists):

- ``pump``          Pipeline.run_available over a seeded IoT CSV drop-box
- ``corpus_stream`` StreamingCorpusIngest AvailableNow drain of jsonl files
- ``query_mix``     15 queries.py builders forced with the noop writer

The run generates its inputs from ``--seed`` (excluded from every metric),
starts a ``local[nproc]`` session, runs an untimed warm-up on inputs of the
same shape, then repeats passes over the fixed input until the next pass
would end past ``--seconds`` (at least one), and checks every output
against an independent reference outside the timed region. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (the traced run alternates untraced and traced
passes, starting and ending untraced, which also gives the tracing
overhead). The line before it records nproc, versions and the seed; the
spans of a traced run go to ``.perfbench/traces/``.

All scratch state (inputs, sinks, checkpoints, Spark local dirs) lives in a
temporary directory under ``.perfbench/`` that is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = {"pump": "pump", "corpus_stream": "corpus",
             "query_mix": "mix"}
# metric names and units come from the benchmark definition itself
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


class Ctx:
    """Everything one run shares between its phases."""

    def __init__(self, args, work: Path):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.inputs: dict = {}
        self.excluded_s = 0.0      # benchmark-own cost inside set-up
        self.session_s = 0.0
        self.warm_s = 0.0
        self.t_timed0 = None
        # one entry per pass: {"wall", "traced", "steps": [secs], "ok":
        # [bool], "spans": (first, last)}
        self.passes: list[dict] = []
        self.rows_per_pass = 0
        self.info: dict = {}

    def untraced(self) -> list[dict]:
        return [p for p in self.passes if not p["traced"]]

    def traced(self) -> list[dict]:
        return [p for p in self.passes if p["traced"]]

    def run_passes(self, one_pass, max_passes: int | None = None) -> None:
        """Closed loop over the fixed input: pass after pass until the
        next pass would end past ``--seconds``. A traced run alternates
        untraced and traced passes and ends untraced, so that every traced
        pass has an untraced pass on either side; it makes at least
        three."""
        self.t_timed0 = time.perf_counter()
        deadline = self.t_timed0 + self.seconds
        need = 3 if self.trace else 1
        k = 0
        while True:
            traced = self.trace and k % 2 == 1
            self.tracer.enabled = traced
            first = len(self.tracer.spans)
            rec = {"traced": traced, "steps": [], "ok": []}
            t = time.perf_counter()
            one_pass(k, rec)
            rec["wall"] = time.perf_counter() - t
            rec["spans"] = (first, len(self.tracer.spans))
            self.passes.append(rec)
            self.tracer.enabled = False
            k += 1
            if k < need or (self.trace and k % 2 == 0):
                continue
            if max_passes is not None and k >= max_passes:
                break
            walls = sorted(p["wall"] for p in self.passes)
            if time.perf_counter() + walls[len(walls) // 2] > deadline:
                break


def _environment(work: Path) -> int:
    """Process environment for the session: every core, Spark/Python temp
    dirs inside the run's work dir, and the engine importable by the
    Python workers from any working directory. The driver heap stays the
    session's own default."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir()
    tmp.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.enabled=false "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        # no hsperfdata file outside the work dir
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return cpus


def _stop_session(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process this run started (JVM, Python daemon and workers) is gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — best effort, JVM waited below
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        _reap()


def _reap() -> None:
    from harness import descendants

    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        t = time.perf_counter()
        while descendants(me) and time.perf_counter() - t < 10:
            time.sleep(0.1)
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except OSError:
                pass
    t = time.perf_counter()
    while descendants(me) and time.perf_counter() - t < 10:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "datapump_spark" / "__init__.py").is_file():
        print(f"datapump_spark not found under {ROOT}: run from a full "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    from harness import RssSampler, Tracer, median

    base = ROOT / ".perfbench"
    base.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base))
    spark = ctx = wl = None
    try:
        cpus = _environment(work)
        wl = importlib.import_module(WORKLOADS[args.workload])
        ctx = Ctx(args, work)
        rss = RssSampler().start()

        t = time.perf_counter()
        wl.generate(ctx)
        ctx.excluded_s += time.perf_counter() - t
        ctx.info["generate_s"] = round(ctx.excluded_s, 3)

        import pyarrow
        import pyspark

        from datapump_spark.session import get_session

        t = time.perf_counter()
        spark = get_session(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.session_s = time.perf_counter() - t
        ctx.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                            False, spark.sparkContext)

        t, ex = time.perf_counter(), ctx.excluded_s
        wl.warm(ctx)
        spark.catalog.clearCache()
        ctx.warm_s = time.perf_counter() - t - (ctx.excluded_s - ex)

        wl.run(ctx)
        peak_mb = rss.stop()
        setup_s = ctx.t_timed0 - T0 - ctx.excluded_s

        problems = wl.check(ctx)
        steps = [s for p in ctx.untraced() for s in p["steps"]]
        oks = [o for p in ctx.passes for o in p["ok"]]
        attempted = len(oks)
        failed = min(attempted, sum(1 for o in oks if not o) + len(problems))

        run_s = median([p["wall"] for p in ctx.untraced()])
        if ctx.trace:
            layers = wl.layers(ctx)
            layers["session.start_s"] = ctx.session_s
            layers["session.warm_s"] = ctx.warm_s
            # each traced pass against the mean of the untraced passes on
            # either side of it, so steady drift (JIT still warming, host
            # speed) cancels out
            walls = [p["wall"] for p in ctx.passes]
            layers["trace.overhead_s"] = median(
                [walls[k] - (walls[k - 1] + walls[k + 1]) / 2
                 for k in range(1, len(walls) - 1, 2)])
            layers["failed_share"] = failed / attempted if attempted else 0.0
            layers["peak_rss_mb"] = peak_mb
            # every per-layer metric is printed for every workload; a
            # layer this workload never calls reads 0
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                   "unit": m["unit"]}
                       for m in SPEC["per_layer"]}
        else:
            vals = {"setup_s": setup_s, "run_s": run_s,
                    "rows_per_s": ctx.rows_per_pass / run_s,
                    "step_p50_s": median(steps)}
            metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                       for m in SPEC["end_to_end"]}
        info = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "nproc": cpus, "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "session_s": round(ctx.session_s, 3),
                "warm_s": round(ctx.warm_s, 3),
                "pass_s": [round(p["wall"], 3) for p in ctx.passes],
                "step_s": [[round(x, 3) for x in p["steps"]]
                           for p in ctx.passes],
                "passes": len(ctx.passes), "step_samples": len(steps),
                "rows_per_pass": ctx.rows_per_pass,
                "peak_rss_mb": round(peak_mb, 1),
                "problems": problems[:20], **ctx.info}
        print(json.dumps({"perfbench": info}))
        if ctx.trace:
            out = base / "traces"
            out.mkdir(exist_ok=True)
            (out / f"{ctx.tracer.run_id}.json").write_text(json.dumps(
                {"info": info, "metrics": metrics,
                 "self_s": ctx.tracer.self_times(),
                 "spans": ctx.tracer.spans}))
        result = {"correct": not problems and failed == 0,
                  "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        if spark is not None:
            _stop_session(spark)
        if ctx is not None and hasattr(wl, "cleanup"):
            wl.cleanup(ctx)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
