"""Benchmark command.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --compare A.json B.json

Runs one workload (see workloads.py) from the root of a checkout, prints
every end-to-end metric by name and unit, and with ``--trace 1`` the
per-layer table as well.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  The command
exits non-zero when any answer disagrees with the oracles.

Everything the run writes goes under ``.perfbench/`` in the checkout; a
result record (metrics, CPU count, steal time) is kept in
``.perfbench/results/`` for ``--compare``, which refuses to compare records
taken at different CPU counts.
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
WORK = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(WORK, "results")


def load_spec() -> tuple[dict, dict]:
    """(BENCHMARK.json: metric names, units, directions, bounds;
    spec.json: what each metric is reported on and should move)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        return bench, json.load(f)


def proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def stop_jvm(gateway) -> None:
    """Shut down the py4j gateway and wait for the JVM it launched: the JVM
    exits when its stdin pipe closes (``SparkSession.stop`` leaves it
    running until the Python process exits)."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def layer_metrics(tr, run, bench, spec) -> dict[str, float]:
    """Sum each layer's counters over its spans, then add the layer-specific
    metrics; a layer the workload never called reports zeros."""
    from spans import COUNTERS

    out = {f"{L}.{c}": 0.0 for L in spec["layers"] for c in COUNTERS}
    spans = [s for s in tr.spans if s.layer in spec["layers"]]
    for s in spans:
        for c in COUNTERS:
            out[f"{s.layer}.{c}"] += s.counters.get(c, 0.0)

    def named(layer, name):
        return [s for s in spans if s.layer == layer and s.name == name]

    def per_call(layer, name, counter="jobs"):
        ss = named(layer, name)
        return sum(s.counters.get(counter, 0) for s in ss) / len(ss) if ss else 0.0

    x = dict(run.x)
    x["build_index.max_task_input_ratio"] = max(
        (s.counters.get("max_task_input_ratio", 0) for s in named("build_index", "build_index_frames")),
        default=0.0)
    x["lifecycle.jobs_per_update"] = per_call("lifecycle", "update_index")
    x["wand.jobs_per_query"] = per_call("wand", "query")
    x["phrase.jobs_per_query"] = per_call("phrase", "query")
    x["search.jobs_per_query"] = per_call("search", "search")
    x["dedup.components_jobs"] = per_call("dedup", "connected_components")
    x["dedup.max_task_input_bytes"] = max(
        (s.counters.get("max_task_input_bytes", 0) for s in named("dedup", "minhash_lsh_pairs")),
        default=0.0)
    for m in bench["per_layer"]:
        if m["name"] not in out:
            out[m["name"]] = float(x.get(m["name"], 0.0))
    return out


def check_python_time(workload: str, per_layer: dict) -> str | None:
    """The tokenizer runs a pandas UDF on ``ingest``, so its Python worker
    time must be above 0 and of the order of its executor run time;
    otherwise the SQL metric ``python_eval_s`` is read from has another name
    or unit (a ms/ns mix-up is a factor of 10**6) in this Spark.  The limit
    is not 1x: pipelined Python nodes of one stage each count the time they
    overlap, so a stage's sum can exceed its run time."""
    if workload != "ingest":
        return None
    py, run_s = per_layer["tokenizer.python_eval_s"], per_layer["tokenizer.exec_run_s"]
    if 0 < py <= 10 * run_s:
        return None
    return (f"tokenizer.python_eval_s = {py} s against exec_run_s = {run_s} s: "
            f"the Python worker time metric is missing or in another unit")


def print_layer_table(tr, bench, spec, per_layer: dict) -> None:
    from spans import COUNTERS

    selft = tr.self_times()
    print(f"\n{'layer':12s} {'calls':>5s} {'self_s':>8s} " +
          " ".join(f"{c:>12s}" for c in COUNTERS[1:]) + f" {'wall_s':>9s}")
    for L in spec["layers"]:
        ss = [s for s in tr.spans if s.layer == L]
        print(f"{L:12s} {len(ss):5d} {sum(selft[s.sid] for s in ss):8.3f} " +
              " ".join(f"{per_layer[f'{L}.{c}']:12.4g}" for c in COUNTERS[1:]) +
              f" {per_layer[f'{L}.wall_s']:9.3f}")
    print("\nlayer counters should move:")
    for L, d in spec["layers"].items():
        print(f"  {L:12s} {d['moves']} on {d['on']}")
    print("\nlayer-specific:")
    extra = spec["layer_specific"]
    for m in bench["per_layer"]:
        if m["name"] in extra:
            print(f"  {m['name']:40s} {_fmt(per_layer[m['name']]):>14s} {m['unit']:8s}"
                  f" moves {extra[m['name']]['moves']} on {extra[m['name']]['on']}")


def overhead_line(workload: str, seed: int, metrics: dict) -> str:
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return (f"tracing overhead: no untraced record for {workload} seed {seed}; "
                f"run with --trace 0 first to compare")
    with open(path) as f:
        base = json.load(f)
    parts = []
    for k in ("setup_s", "build_docs_per_s", "op_p50_s"):
        a, b = metrics.get(k), base["metrics"].get(k, {}).get("value")
        if a and b:
            parts.append(f"{k} {a / b - 1:+.1%}")
    return ("tracing overhead on the end-to-end metrics (traced/untraced - 1, "
            "same seed): " + ", ".join(parts))


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a.get("cpus") != b.get("cpus"):
        print(f"refusing to compare: {a_path} ran at {a.get('cpus')} CPUs, "
              f"{b_path} at {b.get('cpus')}", file=sys.stderr)
        return 2
    for name, va in a["metrics"].items():
        vb = b["metrics"].get(name)
        if vb is None:
            continue
        ratio = vb["value"] / va["value"] if va["value"] else float("nan")
        print(f"{name:28s} {_fmt(va['value']):>12s} {_fmt(vb['value']):>12s} "
              f"{ratio:8.3f}x {va['unit']}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not args.workload:
        ap.error("--workload is required")

    bench, spec = load_spec()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    # keep every file the run (and Spark, and its Python workers) writes
    # inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher too, would write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    cpus = cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    import tempfile

    tempfile.tempdir = None

    from spans import Tracer
    from workloads import Run

    tr = Tracer(enabled=bool(args.trace))
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    elog = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(elog, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": elog,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    stat0 = proc_stat_cpu()
    t_start = time.perf_counter()
    run = Run(args.workload, args.seed, args.seconds, tr, run_dir, cpus)
    try:
        run.run(bool(args.trace), conf)
    finally:
        run.close()
        if hasattr(run, "spark"):
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            run.spark.stop()
            stop_jvm(gateway)
        # a traced run still needs its event log
        if not args.trace or sys.exc_info()[0] is not None:
            shutil.rmtree(run_dir, ignore_errors=True)
    wall = time.perf_counter() - t_start
    steal = steal_share(stat0, proc_stat_cpu())

    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    print(f"workload={args.workload} seed={args.seed} cpus={cpus} "
          f"steal={steal:.2%} op_samples={len(run.ops)} wall={wall:.1f}s")
    for r in run.fail.reasons[:20]:
        print("WRONG:", r)
    print(f"failed_share {run.fail.failed}/{run.fail.attempted}")
    for name, unit in units.items():
        print(f"  {name:28s} {_fmt(run.m[name]):>14s} {unit}")
    for name, v in sorted(run.x.items()):
        print(f"  {name:40s} {_fmt(v):>14s}")
    record = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "steal_share": steal, "trace": args.trace,
              "metrics": {n: {"value": run.m[n], "unit": u} for n, u in units.items()}}
    record["metrics"]["run_wall_s"] = {"value": wall, "unit": "s"}
    if args.trace:
        tr.attribute(elog)
        per_layer = layer_metrics(tr, run, bench, spec)
        print_layer_table(tr, bench, spec, per_layer)
        print(overhead_line(args.workload, args.seed, run.m))
        tr.dump(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
        err = check_python_time(args.workload, per_layer)
        if err:
            print(f"tracer check failed: {err}", file=sys.stderr)
            return 3
        lunits = {m["name"]: m["unit"] for m in bench["per_layer"]}
        out_metrics = {n: {"value": per_layer[n], "unit": u} for n, u in lunits.items()}
    else:
        out_metrics = {n: {"value": run.m[n], "unit": u} for n, u in units.items()}
    with open(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    ok = run.fail.failed == 0
    print(json.dumps({"correct": ok, "attempted": run.fail.attempted,
                      "failed": run.fail.failed, "metrics": out_metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
