"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from anywhere; the checkout root is the parent of this directory, and
the engine (``fafnir_spark``) is imported from there. Spark runs on
``local[<cores available to this process>]``.

stdout: input properties and a metric table (name, value, unit, samples),
then, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, the per-layer
self-time table is printed, and the spans are written to
``.perfbench_out/`` in the checkout.

Exit status: 0 when every answer checked out, 1 on any answer mismatch or
failed op (the result line is still printed), 2 when the run could not set up
or anything outside a timed op raised (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The same four end-to-end metrics on every workload; what each one times
# depends on the workload (see README.md).
END_TO_END = {"setup_s": "s", "latency_ms": "ms", "items_per_s": "1/s",
              "index_bytes_per_input_byte": "B/B"}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Keep Spark's scratch files in the checkout and let its Python workers
    import the engine from the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # the JVM's temp files (artifact dirs, native libraries) go to the work
    # directory too, and it keeps no perf-data file in /tmp; no console
    # progress bar, so stderr stays readable (phase log, tracebacks)
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.makedirs(os.environ["TMPDIR"])
    sys.path.insert(0, ROOT)


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def quietly(fn) -> None:
    try:
        fn()
    except Exception:
        traceback.print_exc(file=sys.stderr)


def report(args, out, per_layer: dict | None) -> dict:
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print("inputs " + json.dumps(out.info, sort_keys=True, default=str))
    print(f"{'metric':<30}{'value':>16} {'unit':<8}{'samples':>8}")
    for name in END_TO_END:
        value, unit, n = out.metrics[name]
        print(f"{name:<30}{value:>16.4f} {unit:<8}{n:>8}")
    if per_layer is None:
        metrics = {k: {"value": out.metrics[k][0], "unit": out.metrics[k][1]}
                   for k in END_TO_END}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    print(f"attempted={out.attempted} failed={out.failed} "
          f"failed_op_frac={out.failed / max(out.attempted, 1):.4f}")
    return {"correct": out.mismatches == 0 and out.failed == 0,
            "attempted": out.attempted, "failed": out.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir)
    b = None
    try:
        prepare_env(workdir)
        try:
            import fafnir_spark  # noqa: F401
        except ImportError as e:
            print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        cores = len(os.sched_getaffinity(0))
        b = workloads.Bench(workdir, cores, args.seconds, args.seed, Tracer(args.trace == 1))
        out = workloads.WORKLOADS[args.workload](b)
        if not all(k in out.metrics for k in END_TO_END):
            print(f"no successful timed op (attempted={out.attempted}, "
                  f"failed={out.failed})", file=sys.stderr)
            return 2
        per_layer = None
        if args.trace:
            import probes

            per_layer = probes.measure(b, out)
            print(b.tracer.format_table())
            outdir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(outdir, exist_ok=True)
            b.tracer.dump(os.path.join(
                outdir, f"spans_{args.workload}_seed{args.seed}.json"))
        result = report(args, out, per_layer)
        workloads.log("shutdown")
    except Exception:
        # set-up, an answer check or a probe raised: there is no result
        traceback.print_exc(file=sys.stderr)
        return 2
    else:
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        # each step runs even when the one before it raised (a SIGTERM can
        # leave the py4j connection half-read, a closed stderr can make the
        # traceback print fail)
        try:
            if b is not None:
                quietly(b.stop_session)
            if "pyspark" in sys.modules:
                quietly(shutdown_jvm)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))
            except OSError:
                pass


if __name__ == "__main__":
    # SIGTERM unwinds through main's finally: Spark, its JVM and the work
    # directory are cleaned up as on a normal exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    code = main()
    print(f"wall_s={time.perf_counter() - t0:.1f}", file=sys.stderr)
    sys.exit(code)
