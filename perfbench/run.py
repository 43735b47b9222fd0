"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,analytics,etl_merge} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench/``, runs the workload in a fresh client
process (``client.py``) against ``local[nproc]``, checks every op's
output, prints a readable report and, as the last line, one JSON object
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A traced run reports its overhead against an earlier
untraced run of the same work in this checkout, or against an untraced
pass it makes first in its own fresh process.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import FeedGenerator, write_fixtures  # noqa: E402
from workloads import SF, analytics_list, plan  # noqa: E402

WORKLOADS = ("dashboard", "analytics", "etl_merge")
TIME_LIMIT_S = 175.0
RESULTS = os.path.join(".perfbench", "results")
# Driver heap, passed through the program's SPARK_GRAFT_DRIVER_MEM. Its
# default, 24 GB, is more than the 15 GB of a benchmark host that other
# tenants share; at sf0.1 no workload needs more than 4 GB.
DRIVER_MEMORY = "4g"

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("wall_s", "s"),
]
# Printed by every run but not bounded: error_rate and the ETL byte
# figures can be 0 or exist on one workload only, and peak RSS follows
# the JVM's own heap sizing from run to run (see README.md).

PER_LAYER = [
    ("session.start_s", "s"),
    ("artifacts.bucketing_s", "s"),
    ("artifacts.graph_edges_s", "s"),
    ("artifacts.ivf_s", "s"),
    ("artifacts.source_feed_s", "s"),
    ("artifacts.sessionize_s", "s"),
    ("artifacts.bytes", "bytes"),
    ("artifacts.lazy_builds", "count"),
    ("catalog.calls", "count"),
    ("catalog.s", "s"),
    ("catalog.jobs", "count"),
    ("registry.build_s", "s"),
    ("registry.build_jobs", "count"),
    ("action.run_s", "s"),
    ("action.jobs", "count"),
    ("action.stages", "count"),
    ("action.tasks", "count"),
    ("action.result_rows", "rows"),
    ("exec.task_s", "s"),
    ("exec.busy_cores", "cores"),
    ("exec.sched_gap_s", "s"),
    ("exec.input_bytes", "bytes"),
    ("exec.shuffle_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.gc_s", "s"),
    ("exec.failed_tasks", "count"),
    ("pinning.calls", "count"),
    ("pinning.local_checkpoints", "count"),
    ("pinning.s", "s"),
    ("dashboard.build_s", "s"),
    ("dashboard.first_widget_s", "s"),
    ("dashboard.cached_widget_s", "s"),
    ("dashboard.cache_hits", "count"),
    ("dashboard.repeat_scan_days_share", "ratio"),
    ("xml_feed.scan_s", "s"),
    ("xml_feed.rows", "rows"),
    ("ingest.normalize_s", "s"),
    ("ingest.rows_out", "rows"),
    ("sink.merge_s", "s"),
    ("sink.read_s", "s"),
    ("sink.partitions_touched", "count"),
    ("sink.partitions_total", "count"),
    ("sink.bytes_written", "bytes"),
    ("sink.files", "count"),
    ("streaming.batches", "count"),
    ("streaming.trigger_s", "s"),
    ("streaming.state_rows", "rows"),
    ("streaming.state_bytes", "bytes"),
    ("etl.write_bytes_per_row", "bytes/row"),
    ("etl.stored_bytes_per_row", "bytes/row"),
    ("error_rate", "ratio"),
    ("rss.peak_mb", "MB"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
]


def per_layer_metrics(seconds: float) -> list[tuple[str, str]]:
    queries = [(f"q.{q}.{k}", "s") for q in analytics_list(seconds) for k in ("build_s", "run_s")]
    return PER_LAYER + queries


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail(latencies: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile; with ten samples or fewer, the maximum (p100)."""
    xs = sorted(latencies)
    if len(xs) <= 10:
        return xs[-1], 100
    i = len(xs) - 11
    return xs[i], int(100 * (i + 1) / len(xs))


# --------------------------------------------------------------------------


def make_inputs(workload: str, seed: int, sf: float, base: str, ops_plan: dict) -> dict:
    """Generate the run's inputs under ``base``; return the spec fields
    that point at them."""
    sf_dir = os.path.join(base, "inputs", f"sf{sf}")
    spec = {"sf_dir": sf_dir}
    if workload != "etl_merge":  # the ETL job reads only its feed
        write_fixtures(seed, sf, sf_dir)
    else:
        gen = FeedGenerator(seed)
        feed = os.path.join(base, "inputs", "feed")
        spec.update(initial_feed=os.path.join(feed, "batch_0000"))
        gen.write_batch(0, spec["initial_feed"])
        dirs, n_rows, expected = [], [], []
        for op in ops_plan["ops"]:
            b = op["batch"]
            dirs.append(os.path.join(feed, f"batch_{b:04d}"))
            before = gen.input_rows
            gen.write_batch(b, dirs[-1])
            n_rows.append(gen.input_rows - before)
            expected.append(os.path.join(base, "inputs", f"expected_{b:04d}.json"))
            with open(expected[-1], "w", encoding="utf-8") as f:
                json.dump({k: list(v) for k, v in gen.expected().items()}, f)
        spec.update(feed_dirs=dirs, feed_rows=n_rows, expected=expected)
    return spec


def run_client(spec: dict, deadline: float) -> dict:
    run_dir = spec["run_dir"]
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    if spec["workload"] == "etl_merge":
        spec["sink"] = os.path.join(run_dir, "sink")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [os.getcwd(), env.get("PYTHONPATH")]))
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(spec["cpus"])
    # the program's own heap setting, sized for the host (see DRIVER_MEMORY)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    spec_path = os.path.join(run_dir, "spec.json")
    tmp_before = set(glob.glob("/tmp/trafik_*"))
    spec["spawn_epoch"] = time.time()
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    log_path = os.path.join(run_dir, "client.log")
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), spec_path],
            stdout=log,
            stderr=subprocess.STDOUT,
            env=env,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    # Caches the program keeps under /tmp/trafik_* belong to this run's
    # inputs only; remove the ones it created so the next run starts cold.
    for path in set(glob.glob("/tmp/trafik_*")) - tmp_before:
        shutil.rmtree(path, ignore_errors=True)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"client for {spec['workload']} {why}")
    with open(result_path, encoding="utf-8") as f:
        return json.load(f)


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the client and everything it started (the JVM and its Python
    workers), then wait for the client to be reaped."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    # the group outlives its leader while any member is alive
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def end_to_end(res: dict, workload: str) -> dict:
    lat = [r["latency_s"] for r in res["ops"]]
    t, pct = tail(lat)
    failed = sum(not r["ok"] for r in res["ops"])
    out = {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t,
        "wall_s": res["wall_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "_tail_pct": pct,
        "_n": len(lat),
        "_failed": failed,
    }
    if workload == "etl_merge":
        batches = [r.get("sink", {}) for r in res["ops"]]
        input_rows = res["input_rows"]
        out["write_bytes_per_row"] = sum(b.get("bytes_written", 0) for b in batches) / input_rows
        out["stored_bytes_per_row"] = res["sink"]["bytes"] / max(1, res["sink"]["rows"])
    return out


def report(workload: str, seed: int, trace: int, m: dict, res: dict) -> None:
    n, failed = m["_n"], m["_failed"]
    print(f"workload={workload} seed={seed} trace={trace} cpus={nproc()} ops={n}")
    print(f"  setup_s              {m['setup_s']:.4f} s")
    print(f"  op_p50_s             {m['op_p50_s']:.4f} s")
    label = f"p{m['_tail_pct']} of n={n}" + ("; n <= 10, so the maximum" if n <= 10 else "")
    print(f"  op_tail_s            {m['op_tail_s']:.4f} s ({label})")
    print(f"  wall_s               {m['wall_s']:.4f} s")
    print(f"  error_rate           {failed / n:.4f} ratio ({failed} failed of {n} attempted; output checks on, {res.get('unchecked', 0)} results without an oracle)")
    print(f"  peak_rss_mb          {m['peak_rss_mb']:.1f} MB")
    for key in ("write_bytes_per_row", "stored_bytes_per_row"):
        val = f"{m[key]:.2f} bytes/row" if key in m else "n/a (etl_merge only)"
        print(f"  {key:<20} {val}")
    for r in res["ops"]:
        if not r["ok"]:
            print(f"  FAILED op {r['op']}: {r['error']}")
    if res.get("lazy_builds"):
        print(f"  artifacts built during the timed phase: {res['lazy_builds']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test-only: a smaller scale factor, and planted faults the output
    # checks must catch ("wrong_hash:<op>", "corrupt_sink_row")
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    ap.add_argument("--fault", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    start = time.time()
    # on SIGTERM, unwind so the client's process group is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir("trafik_etl_modular_spark") and os.path.isfile("tools/oracle_check.py")):
        print("perfbench: run from the repository root (trafik_etl_modular_spark/ and tools/ not found)", file=sys.stderr)
        return 2

    ops_plan = plan(args.workload, args.seed, args.seconds)

    base = os.path.join(os.getcwd(), ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    phases = {}
    try:
        t0 = time.time()
        inputs = make_inputs(args.workload, args.seed, args.sf, base, ops_plan)
        phases["inputs_s"] = time.time() - t0
        spec = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": nproc(),
            "ops": ops_plan["ops"],
            "repeat_scan_days_share": ops_plan.get("repeat_scan_days_share", 0.0),
            "fault": args.fault,
            "oracle_cache": os.path.join(os.getcwd(), ".perfbench", "oracle-cache"),
            **inputs,
        }
        deadline = start + TIME_LIMIT_S
        untraced = earlier_untraced(args) if args.trace else None
        if not args.trace:
            passes = [0]
        elif untraced:
            passes = [1]
        else:
            passes = [0, 1]
        runs = []
        for trace in passes:
            # the untraced pass of a traced run only gives the overhead's
            # baseline: its results are checked by the traced pass
            checks = trace == args.trace
            spec_k = dict(spec, trace=trace, checks=checks, run_dir=os.path.join(base, f"client-trace{trace}"))
            t0 = time.time()
            res = run_client(spec_k, deadline)
            phases[f"client{trace}_s"] = time.time() - t0
            res["input_rows"] = sum(spec.get("feed_rows", [])) or 1
            runs.append(res)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    untraced = untraced or runs[0]

    # the readable end-to-end report always comes from an untraced run
    m = end_to_end(untraced, args.workload)
    report(args.workload, args.seed, args.trace, m, untraced)
    clients = " + ".join(f"{v:.1f} s" for k, v in phases.items() if k.startswith("client"))
    print(
        f"  run cost: inputs {phases['inputs_s']:.1f} s, client process {clients} "
        f"(output checks {runs[-1]['check_s']:.1f} s), total {time.time() - start:.1f} s"
    )
    res = runs[-1]
    if args.trace:
        layers = dict(res["layers"])
        layers["rss.peak_mb"] = res["peak_rss_mb"]
        layers["trace.wall_s"] = res["wall_s"]
        layers["trace.overhead_s"] = res["wall_s"] - untraced["wall_s"]
        m = end_to_end(res, args.workload)
        layers["error_rate"] = m["_failed"] / m["_n"]
        layers["etl.write_bytes_per_row"] = m.get("write_bytes_per_row", 0.0)
        layers["etl.stored_bytes_per_row"] = m.get("stored_bytes_per_row", 0.0)
        names = per_layer_metrics(args.seconds)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in names}
        print(
            f"  tracing overhead: traced wall_s {res['wall_s']:.4f} s - untraced {untraced['wall_s']:.4f} s "
            f"= {layers['trace.overhead_s']:.4f} s"
        )
        for err in res.get("probe_errors", []):
            print(f"  FAILED probe: {err}")
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(start)}-{os.getpid()}.json"
    with open(os.path.join(RESULTS, name), "w", encoding="utf-8") as f:
        doc = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "sf": args.sf}
        json.dump({**doc, "fault": args.fault, "metrics": metrics, "result": res}, f)
    failed = sum(not op["ok"] for op in res["ops"])
    print(json.dumps({"correct": failed == 0, "attempted": len(res["ops"]), "failed": failed, "metrics": metrics}))
    return 0


def earlier_untraced(args) -> dict | None:
    """The result of an earlier untraced run in this checkout with the
    same workload, seed, seconds and scale factor (the same work on the
    same inputs), so a traced run need not repeat it; None if none."""
    want = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "sf": args.sf, "fault": None}
    for path in sorted(glob.glob(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace0-*.json"))):
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        if all(doc.get(k) == v for k, v in want.items()):
            return doc["result"]
    return None


if __name__ == "__main__":
    raise SystemExit(main())
