"""Layered benchmark of the OSM-wrangling engine: one workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload osm_etl|query_mix|index_serve \
        --seed N --seconds S --trace 0|1

The parent generates the workload's inputs from ``--seed`` (not
timed), then launches one measured child process with a fresh
TMPDIR, the checkout on PYTHONPATH and ``local[nproc/2]``.  It prints
every metric by name with its unit, then, as the last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Any failed op or output check exits non-zero.  Run
files live under ``perfbench/out/`` and are removed at the end,
except the traced run's report ``perfbench/out/<workload>-<seed>.trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "open_street_map_data_wrangling_spark"
# the child's budget beyond --seconds: session start, warm-up, checks
CHILD_TIMEOUT_S = 160

# input sizes per workload (see README.md for why)
OSM_NODES = 8_000
TABLE_SCALE = 0.001
# the catalog tables are the same for every seed: in query_mix the seed
# permutes the query order, in index_serve it draws the request stream
TABLE_SEED = 0


def _metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _spark_cores() -> int:
    """Half the host's cores for Spark's task threads.  The rest stay
    for what runs beside the tasks: the JIT compiler and GC threads,
    the driver's py4j thread and the Python workers.  On a shared
    4-vCPU host, local[2] ran both workloads faster than local[4] and
    with less of the hypervisor's steal time (README.md)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _driver_memory() -> str:
    """A sixth of host memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(8, kb // (6 * 1024 * 1024)))}g"


def _make_inputs(workload: str, seed: int, run_dir: str) -> dict:
    if workload == "osm_etl":
        import osmgen

        xml = os.path.join(run_dir, "extract.osm")
        warm = os.path.join(run_dir, "warmup.osm")
        return {
            "xml": xml,
            "expected": osmgen.write_extract(xml, seed, OSM_NODES),
            "warm_xml": warm,
            "warm_expected": osmgen.write_extract(warm, seed + 1, OSM_NODES // 10),
        }
    import tables

    sf_dir = os.path.join(run_dir, "tables")
    return {"sf_dir": sf_dir, "bytes": tables.write_tables(sf_dir, TABLE_SEED, TABLE_SCALE)}


def _run_child(cfg: dict, run_dir: str) -> tuple[dict | None, int, str]:
    """Run the measured child in its own process group; kill whatever
    of the group survives it.  Returns (result, exit code, stderr)."""
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update(
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # the same set and dict orders in the driver and the workers on every run
        PYTHONHASHSEED="0",
    )
    conf = ["spark.ui.showConsoleProgress=false", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if cfg["trace"]:
        os.makedirs(cfg["event_log_dir"])
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{cfg['event_log_dir']}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    cfg_path = os.path.join(run_dir, "config.json")
    out_path = os.path.join(run_dir, "result.json")
    err_path = os.path.join(run_dir, "child.stderr")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), cfg_path, out_path],
            cwd=run_dir, env=env, stdout=err, stderr=err, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S + cfg["seconds"])
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            _wait_group_gone(proc.pid)
    with open(err_path) as fh:
        stderr = fh.read()
    if code != 0 or not os.path.exists(out_path):
        return None, code, stderr
    with open(out_path) as fh:
        return json.load(fh), code, stderr


def _wait_group_gone(pgid: int, timeout: float = 20.0) -> None:
    """Block until no process of the group is left."""
    end = time.time() + timeout
    while time.time() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _trace_overhead(ops: list) -> float:
    """Median over the traced run's blocks of four timed ops
    (untraced, traced, traced, untraced) of the traced pair's time
    minus the untraced pair's, per op.  The order cancels a steady
    drift such as the end of warm-up.  The event log is on for the
    whole traced session, so its cost is not in this figure; it is
    the cost of recording spans and tagging job groups."""
    diffs = []
    for b in range(0, len(ops) - 3, 4):
        block = ops[b:b + 4]
        if all(ok and kind != "index.purge" for kind, _, _, ok in block):
            u0, t1, t2, u3 = (s for _, s, _, _ in block)
            diffs.append((t1 + t2 - u0 - u3) / 2)
    return statistics.median(diffs) if diffs else 0.0


def _metrics(res: dict, trace: bool, stderr: str, names) -> dict[str, float]:
    if not trace:
        return {"setup_s": res["setup_s"], "op_p50_s": res["op_p50_s"]}
    layers = dict(res["layers"])
    layers["trace.overhead_s"] = _trace_overhead(res["ops"])
    layers["session.start_s"] = res["session_start_s"]
    layers["peak_rss_mb"] = res["peak_rss_mb"]
    layers["session.error_log_lines"] = len(re.findall(r"\bERROR\b", stderr))
    return {name: float(layers.get(name, 0.0)) for name in names}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("osm_etl", "query_mix", "index_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated parent still runs the cleanup that kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2

    out_dir = os.path.join(HERE, "out")
    run_dir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        inputs = _make_inputs(args.workload, args.seed, run_dir)
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": _spark_cores(),
            "driver_memory": _driver_memory(), "run_dir": run_dir, "inputs": inputs,
            "event_log_dir": os.path.join(run_dir, "eventlog"),
        }
        res, code, stderr = _run_child(cfg, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        sys.stderr.write(stderr[-4000:])
        print(f"perfbench: child exited with code {code}", file=sys.stderr)
        return 1

    ops = res["ops"]
    attempted = len(ops)
    failed = sum(1 for *_, ok in ops if not ok)
    if res["errors"]:
        failed = max(failed, 1)
    correct = not res["errors"] and res["setup_s"] is not None and attempted > 0
    for msg in res["errors"]:
        print(f"CHECK FAILED: {msg}")

    units = _metric_units("per_layer" if args.trace else "end_to_end")
    metrics = _metrics(res, bool(args.trace), stderr, units) if correct else {}
    print(f"workload {args.workload} seed {args.seed} cores {cfg['cores']} "
          f"driver_memory {cfg['driver_memory']} trace {args.trace}")
    print("  op_seconds = " + " ".join(f"{s:.3f}" for _, s, _, _ in ops))
    for name, (value, unit) in sorted(res["report"].items()):
        print(f"  {name} = {value:.6g} {unit}")
    if not args.trace:
        print(f"  peak_rss_mb = {res['peak_rss_mb']:.6g} MB")
    print(f"  failed_frac = {failed / attempted if attempted else 1.0:.6g} ({failed}/{attempted} ops)")
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {units[name]}")
    if args.trace:
        for name, value in sorted(res["layers"].items()):
            if name not in units:
                print(f"  {name} = {value:.6g}")
        with open(os.path.join(out_dir, f"{args.workload}-{args.seed}.trace.json"), "w") as fh:
            json.dump(dict(res, metrics=metrics), fh, indent=1)

    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
