#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <encode_scan|analytics|facade>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from
the seed, sets up (Spark session, data, one-time encode, one untimed
warm-up pass), then runs timed passes for ``--seconds`` and checks every
operation's output outside its timed interval.  Prints the workload's
own metrics one per line, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run also writes its spans to
``.perfbench/traces/``.  See perfbench/README.md for the layer map.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("encode_scan", "analytics", "facade")


class Context:
    """What a workload needs from the run: where to write, the seed,
    and the set-up clocks."""

    def __init__(self, root: str, scratch: str, seed: int, cpu_clock):
        self.root = root
        self.scratch = scratch
        self.seed = seed
        self.cpu_clock = cpu_clock
        self.spark = None
        self.setup_s: float | None = None
        self.setup_wall_s: float | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def start_spark(self):
        from harness import make_spark

        self.spark = make_spark(self.root, self.scratch)
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = self.cpu_clock()
        self.setup_wall_s = time.perf_counter() - T_START


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def check_tree() -> None:
    """Refuse to run outside a checkout of the repository."""
    missing = [p for p in ("BENCHMARK.json", "fastparquet_spark/__init__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the repository "
                 f"(missing {', '.join(missing)}); run it from the repo root")


def isolate(scratch: str) -> None:
    """Route every temporary file of this process, the JVM and the
    Python workers under the per-run scratch root; keep the compiled
    native kernels in a cache inside the checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["FPS_NATIVE_CACHE"] = os.path.join(ROOT, ".perfbench", "native")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # no JVM (the spark-submit launcher included) writes perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def end_to_end(bench, ctx, out: dict, peak_rss_mb: float) -> dict:
    return {
        "setup_s": ctx.setup_s,
        "op_cpu_s": bench.op_sum(bench.op_cpu),
        "stored_ratio": out["stored_ratio"],
        "peak_rss_mb": peak_rss_mb,
    }


def main() -> int:
    args = parse_args()
    check_tree()
    spec = load_spec()
    sys.path.insert(0, HERE)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"run-{args.workload}-",
                               dir=os.path.join(ROOT, ".perfbench"))
    isolate(scratch)

    from harness import MB, Bench, RssSampler, stop_spark

    rss = RssSampler()
    bench = Bench(args.seconds, bool(args.trace), rss.cpu_s)
    ctx = Context(ROOT, scratch, args.seed, rss.cpu_s)
    workload = importlib.import_module(f"wl_{args.workload}")
    try:
        with rss:
            try:
                out = workload.run(bench, ctx)
            finally:
                if ctx.spark is not None:
                    stop_spark(ctx.spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if args.trace:
        bench.tracer.dump(os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))

    for name, secs in bench.op_secs.items():
        print(f"{name}: wall s {' '.join(f'{v:.3f}' for v in secs)}; CPU s "
              f"{' '.join(f'{v:.3f}' for v in bench.op_cpu[name])}", file=sys.stderr)
    for name, value, unit, n in out["report"]:
        print(f"{name} = {value:.6g} {unit}" + (f"  (n={n})" if n else ""))
    print(f"op_sum_s = {bench.op_sum():.6g} s")
    print(f"op_cpu_s = {bench.op_sum(bench.op_cpu):.6g} s")
    print(f"failed_ops = {bench.failed / max(1, bench.attempted):.6g} share"
          f"  (n={bench.attempted})")
    print(f"peak_rss_mb = {rss.peak_bytes / MB:.6g} MB")
    print(f"setup_s = {ctx.setup_s:.6g} s")
    print(f"setup_wall_s = {ctx.setup_wall_s:.6g} s")

    if args.trace:
        values = dict(out["layers"])
        values.update(bench.spark_layer(out.get("spark_ops", {})))
        values["trace.overhead_share"] = bench.overhead_share()
        wanted = spec["per_layer"]
    else:
        values = end_to_end(bench, ctx, out, rss.peak_bytes / MB)
        wanted = spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
