"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 8 --trace 0

Runs one workload in a fresh ``local[N]`` session (N = usable CPUs, at most
4), checks its outputs against the oracle, and prints a readable table
followed, as the last stdout line, by one JSON object::

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` list, and
the spans of the run are written to ``.perfbench-work/traces/``. Spark's own
logging goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import uuid

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_layers(passes: list[dict], n_cores: int) -> dict[str, float]:
    """spark.* per-layer metrics: per-pass medians over the timed passes."""
    from perfbench.harness import STAGE_FIELDS, median

    out = {f"spark.{k}": median([p[k] for p in passes]) for k in STAGE_FIELDS}
    out["spark.failed_tasks"] = float(sum(p["failed_tasks"] for p in passes))
    out["spark.cpu_util"] = median([p["executor_cpu_s"] / (p["s"] * n_cores) for p in passes])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the program under test)
        import ocr_spark  # noqa: F401
    except ImportError as exc:
        print(f"program under test not found next to the benchmark: {exc}", file=sys.stderr)
        return 2

    from perfbench import harness
    from perfbench.harness import WORK, Engine, Ops, Run, Session, Tracer, median
    from perfbench.workloads import WORKLOADS

    # keep every file the run writes inside the checkout: Python's and the
    # JVM's temporary files go under WORK, and no JVM (the spark-submit
    # launcher included) writes /tmp/hsperfdata_*
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    n_cores = harness.cores()
    phases: dict[str, float] = {"start": time.perf_counter() - T_START}
    t0 = time.perf_counter()
    calib = harness.calib_s()
    wl = WORKLOADS[args.workload]()
    digest = wl.prepare(args.seed, workers=n_cores)
    phases["prepare"] = time.perf_counter() - t0

    tracer = Tracer(bool(args.trace), run_id=f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    ops = Ops()
    session = Session(wl.conf, wl.shuffle_partitions)
    try:
        # set-up, three times: session build + reading the cached inputs. The
        # first launches the JVM; the others rebuild the session inside it.
        setups = []
        for k in range(3):
            t0 = time.perf_counter()
            spark = session.open() if k == 0 else session.restart()
            wl.load(spark)
            setups.append(time.perf_counter() - t0)
        phases["setup"] = sum(setups)
        t0 = time.perf_counter()
        wl.warm_up(ops)
        warmup_s = phases["warm_up"] = time.perf_counter() - t0
        session.sample_rss()

        run = Run(tracer, Engine(spark), ops, session, bool(args.trace),
                  getattr(wl, "patch_targets", list)())
        t0 = time.perf_counter()
        result = wl.timed(args.seconds, run)
        phases["timed"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if hasattr(wl, "check"):
            wl.check(ops)
        layers = wl.layers(tracer, run.engine) if args.trace else {}
        companion = getattr(wl, "companion", None)
        if args.trace and companion is not None:
            # the gate layers: prepared, checked, timed and traced in this session
            gates = companion()
            digest["gates"] = gates.prepare(args.seed, workers=n_cores)
            gates.load(spark)
            gates.warm_up(ops)
            res = gates.timed(args.seconds, Run(tracer, run.engine, ops, session, True, []))
            result["report"].update(res["report"])
            layers.update(gates.layers(tracer, run.engine))
        phases["check_layers"] = time.perf_counter() - t0
        peak_rss = session.sample_rss()
    finally:
        t0 = time.perf_counter()
        session.close()
        phases["close"] = time.perf_counter() - t0

    e2e = {"pass_s": median(result["samples"]), "setup_s": median(setups),
           "peak_rss_mb": peak_rss}
    per_layer = {
        "host.calib_s": calib,
        "setup.cold_s": setups[0],
        "setup.warmup_s": warmup_s,
        **engine_layers(run.passes, n_cores),
    }
    if args.trace:
        per_layer["trace.overhead_pct"] = run.overhead_pct()
        per_layer.update(layers)
        tracer.dump(os.path.join(WORK, "traces", f"{tracer.run_id}.jsonl"))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    # readable report: the workload's own headline metrics, then the contract's
    print(f"workload {args.workload}  seed {args.seed}  local[{n_cores}]  "
          f"trace {args.trace}  inputs {json.dumps(digest, sort_keys=True)}")
    rows = [(k, v, u, n) for k, (v, u, n) in result["report"].items()]
    rows += [("setup_s", e2e["setup_s"], "s", len(setups)),
             ("peak_rss_mb", peak_rss, "MB", 1),
             ("error_rate", ops.failed / max(ops.attempted, 1), "ratio", ops.attempted)]
    for name, value, unit, n in rows:
        print(f"  {name:<24} {value:>14.4f} {unit:<8} n={n}")
    print("  pass samples (s): " + " ".join(f"{x:.3f}" for x in result["samples"])
          + f"   host.calib_s {calib:.4f}")
    print("  phases (s): " + "  ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    if args.trace:
        for name in sorted(metrics):
            print(f"  {name:<40} {metrics[name]['value']:>16.4f} {metrics[name]['unit']}")
    for err in ops.errors:
        print(f"error: {err}", file=sys.stderr)
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
