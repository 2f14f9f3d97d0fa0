"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json lists the first two; stream.py and querymix.py
say why each is shaped as it is):

- ``enrich_open_5k``  open loop, 5,000 messages/s as one 10,000-message
  fqueue segment due every two seconds, consumed by
  ``StreamingEnrichmentPipeline(chaos=True)``: per-message ACK latency.
- ``enrich_backlog``  closed loop, a 300,000-message backlog drained again
  and again: rows per second.
- ``query_mix``       closed loop, one client, 14 registry queries through
  the noop sink, a cold lap then warm laps. It needs ``--sf-dir`` (a
  dataset directory such as the sf0.1 fixture tables), which is not part
  of the repository, and one run takes over a minute, so it is run by
  hand and is not in BENCHMARK.json.

Every run checks the program's outputs against an oracle and prints each
metric as ``name value unit``, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer ones, plus a self-time table per layer, the spans file
under ``.perfbench_out/`` and the tracing overhead against the last
untraced run of the same workload. The exit code is 0 only when every
check passed.

The runner pins the environment before Spark starts: cores
(``SPARK_GRAFT_CPUS``, default half the usable cores, ``--cpus``
overrides: a task is a JVM thread fed by a Python worker process, so one
task per core keeps twice as many runnable threads as cores, and the
figures then measure the scheduler and the machine's neighbours rather
than the program),
driver memory sized to the machine, ``PYTHONPATH`` at the repository root
(Python workers import the fqueue DataSource from it), and Spark's local,
temporary and output directories inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "labs_stream_processing_examples_scala_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _machine_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(cpus: int, work: str) -> dict:
    """Set the variables the program and Spark read, before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    driver_gb = max(2, min(8, int(_machine_gb() // 4)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _units(spec: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[key]}


def _calibration() -> dict:
    """Machine-speed stamps recorded as context only, never as a gate."""
    import bench

    return {k: v for k, v in bench._calibrate().items() if not k.startswith("_")}


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: closing its
    stdin is the gateway's signal to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("enrich_open_5k", "enrich_backlog", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2))
    ap.add_argument("--sf-dir", help="dataset directory for query_mix")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "query_mix" and not args.sf_dir:
        print("query_mix needs --sf-dir", file=sys.stderr)
        return 2

    spec = _load_spec()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.makedirs(OUT_DIR, exist_ok=True)
    try:
        env = pin_environment(args.cpus, work)
        sys.path.insert(0, ROOT)
        from perfbench.stats import failed_frac
        from perfbench.trace import Tracer, self_time_table

        context = {"nproc": len(os.sched_getaffinity(0)), "env": env}
        tracer = None
        if args.trace:
            context["calibration"] = _calibration()
            tracer = Tracer(f"{args.workload}-{args.seed}-{int(time.time())}")
        if args.workload == "query_mix":
            from perfbench import querymix

            res = querymix.run(args.sf_dir, args.seed, args.seconds, tracer)
        else:
            from perfbench import stream

            res = stream.run(args.workload, work, args.seed, args.seconds, tracer)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    context.update(res.context)
    units = _units(spec, "end_to_end")
    units.update(getattr(res, "units", {}))
    last_path = os.path.join(OUT_DIR, f"last_untraced_{args.workload}.json")
    for name, value in sorted(res.e2e.items()):
        print(f"{name} {value:.6g} {units.get(name, '')}")
    for name, (value, unit) in res.info.items():
        print(f"{name} {value:.6g} {unit} (not gated)")
    failed = sum(res.failures.values())
    print(f"failed_frac {failed_frac(res.attempted, **res.failures):.6g} ratio")
    print("context " + json.dumps(context, default=str))
    if tracer is not None:
        layer_units = _units(spec, "per_layer")
        layer_units.update(getattr(res, "units", {}))
        for name, value in sorted(res.layers.items()):
            print(f"{name} {value:.6g} {layer_units.get(name, '')}")
        print(self_time_table(tracer.spans))
        spans_path = os.path.join(OUT_DIR, f"spans_{args.workload}_{args.seed}.jsonl")
        tracer.write(spans_path)
        print(f"spans {spans_path}")
        if os.path.exists(last_path):
            with open(last_path, encoding="utf-8") as f:
                base = json.load(f)
            overhead = {k: res.e2e[k] - base[k] for k in res.e2e if k in base}
            print("tracing_overhead (traced minus last untraced) " + json.dumps(overhead))
        metrics = {
            k: {"value": float(v), "unit": layer_units.get(k, "")}
            for k, v in res.layers.items()
        }
    else:
        with open(last_path, "w", encoding="utf-8") as f:
            json.dump(res.e2e, f)
        metrics = {k: {"value": float(v), "unit": units.get(k, "")} for k, v in res.e2e.items()}
    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": res.attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
