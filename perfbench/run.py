"""Benchmark entry point.

    python3 perfbench/run.py --workload landings|build_serve --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Prints a human-readable summary, then as
the last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Exits non-zero without a result
when the engine is not importable or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "1g"  # Spark's own default; session.py defaults to 16g


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["landings", "build_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _pin_environment(workdir: str) -> None:
    """Everything the run writes stays under ``workdir``; Python workers
    import the engine from this checkout; the driver heap is pinned."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the Spark driver): temp files here, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path[:0] = [HERE, ROOT]
    if not os.path.isfile(os.path.join(ROOT, "linkedspending_spark", "__init__.py")):
        print("perfbench: linkedspending_spark not found next to perfbench/", file=sys.stderr)
        return 2
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(workdir)

    from rss import PeakRss

    rss = PeakRss().start()
    try:
        import workloads
        from names import END_TO_END, per_layer_metrics
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        rss.stop()
        return 2

    b = workloads.Bench(workdir=workdir, seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace))
    try:
        e2e, layers = workloads.WORKLOADS[args.workload](b)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if hasattr(b, "spark"):
            b.stop_spark()
        peak = rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    e2e["setup_s"] = b.setup_s
    e2e["peak_rss_mb"] = peak
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        b.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
        units = {name: unit for name, unit, _ in per_layer_metrics()}
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        metrics = {
            k: {"value": e2e[k], "unit": unit}
            for k, unit in END_TO_END.items()
        }
    for k, v in e2e.items():
        if k not in END_TO_END:
            b.notes[k] = v
    t = b.tally
    for k, m in metrics.items():
        print(f"{args.workload:12s} {k:58s} {m['value']:14.4f} {m['unit']}")
    for name, mb in sorted(rss.peak_parts.items()):
        b.notes[f"peak_rss_mb.{name}"] = mb
    for k, v in b.notes.items():
        print(f"{args.workload:12s} {k:58s} {v:14.4f}")
    print(f"{args.workload:12s} {'error_rate':58s} {t.error_rate:14.4f} ({t.failed}/{t.attempted})")
    for f in t.failures[:10]:
        print(f"FAILED: {f}")
    print(json.dumps({
        "correct": t.failed == 0,
        "attempted": t.attempted,
        "failed": t.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
