"""CDC engine benchmark: ``python3 perfbench/run.py --workload <backfill|tail>
--seed <n> --seconds <s> --trace <0|1>``, from the root of a checkout.

Generates the workload's inputs from the seed (DuckDB, ``gen.py``),
runs the engine on them in a child process (``child.py``), checks the
engine's outputs against DuckDB (``check.py``), removes every table,
checkpoint and Spark scratch file it made, and prints one JSON result as
the last line of its standard output.  ``--trace 1`` runs the same
workload with spans around the engine's public calls and Spark's event
log on, and reports per-layer metrics instead.  See README.md beside
this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import check, gen, layers  # noqa: E402

# Spark task threads: one core is left to Spark's scheduler, its listener
# bus and the OS, which keeps repeat runs steady on a small machine.
CORES = max(1, (os.cpu_count() or 2) - 1)
CHILD_TIMEOUT_S = 150

BACKFILL = dict(n_conv=40_000, turns=20, batch=100_000, warm_epochs=3, files_per_epoch=3,
                reads=3, feeds=3, warm_feeds=1)
TAIL = dict(n_conv=2_500, turns=20, batch=5_000, warm_batches=2, compact_every=3,
            shape="nested", reads=12, warm_reads=4, feeds=4, warm_feeds=1, feed_batches=3)


def plan(workload: str, seed: int, seconds: int) -> dict:
    """Input sizes: fixed per workload, with the timed part scaled by
    ``--seconds`` (never by measured speed, so every run of one seed and
    length attempts the same operations)."""
    if workload == "backfill":
        c = dict(BACKFILL, timed_epochs=max(3, seconds // 2))
        c["n_events"] = c["batch"] * (c["warm_epochs"] + c["timed_epochs"])
    else:
        c = dict(TAIL)
        # the last batch compacts, so the final read is of a delta-free table
        k = c["compact_every"]
        n = c["n_batches"] = k * -(-(c["warm_batches"] + max(4, seconds - 3)) // k)
        c["timed_batches"] = n - c["warm_batches"]
        lsn0 = 1 << 32
        c["batch_ranges"] = [(lsn0 + b * c["batch"] - 1, lsn0 + (b + 1) * c["batch"] - 1)
                             for b in range(n)]
        c["n_rows"] = c["n_conv"] * c["turns"]
    c.update(workload=workload, seed=seed, cores=CORES)
    return c


def generate(c: dict, inputs: str) -> None:
    con = gen.connect(CORES)
    try:
        if c["workload"] == "backfill":
            chunk = c["batch"] // c["files_per_epoch"]
            for k in range(c["n_events"] // chunk):
                gen.write(con, gen.changelog_sql(c["seed"], k * chunk, chunk, c["n_conv"], c["turns"]),
                          os.path.join(inputs, "log", f"part-{k:05d}.parquet"))
            return
        gen.write(con, gen.bootstrap_sql(c["seed"], c["n_conv"], c["turns"]),
                  os.path.join(inputs, "bootstrap", "part-00000.parquet"))
        t0 = int(time.time()) - 10_000
        for k, (lo, hi) in enumerate(c["batch_ranges"]):
            undrifted = gen.echo_sql(c["seed"], lo + 1, hi - lo, k, c["n_rows"], c["turns"])
            path = os.path.join(inputs, "stream", f"batch-{k:05d}.parquet")
            gen.write(con, gen.drifted_sql(c["shape"], undrifted), path)
            # the file source orders files by modification time
            os.utime(path, (t0 + k, t0 + k))
    finally:
        con.close()


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (Spark JVM, Python workers)
    and wait until none of it is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(c: dict, trace: int) -> tuple[dict, str]:
    work = os.path.join(c["work"], "engine")
    os.makedirs(work)
    cfg = dict(c, work=work, trace=trace, run_id=f"{c['workload']}-{c['seed']}-{os.getpid()}")
    cfg_path = os.path.join(work, "cfg.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        FILIPO_LOCAL_DIR=os.path.join(work, "spark-local"),
        FILIPO_DRIVER_MEM="4g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
    )
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        cfg["t_spawn"] = time.time()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child", cfg_path], cwd=work, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _kill_group(proc)
    res_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"engine run failed (exit {proc.returncode})")
    with open(res_path) as f:
        return json.load(f), work


def end_to_end(res: dict) -> dict:
    m = {
        "setup_s": (res["setup_s"], "s"),
        "events_per_s": (res["events_per_s"], "events/s"),
        "epoch_p50_s": (statistics.median(res["epoch_s"]), "s"),
        "read_s": (statistics.median(res["read_s"]), "s"),
        "feed_s": (statistics.median(res["feed_s"]), "s"),
        "compact_s": (statistics.median(res["compact_s"]), "s"),
        "table_bytes": (res["table_bytes"], "bytes"),
        "data_files": (res["data_files"], "files"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its child and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "filipo_spark")):
        sys.stderr.write(f"no engine sources (filipo_spark/) under {ROOT}\n")
        return 2
    c = plan(a.workload, a.seed, a.seconds)
    c["trace"] = a.trace
    c["work"] = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    c["inputs"] = os.path.join(c["work"], "inputs")
    try:
        generate(c, c["inputs"])
        res, work = run_child(c, a.trace)
        sys.stderr.write("engine result: " + json.dumps(res) + "\n")
        con = gen.connect(CORES)
        try:
            failures = check.CHECKS[a.workload](con, c, res, os.path.join(work, "table"))
        finally:
            con.close()
        metrics = layers.per_layer(c, res, work) if a.trace else end_to_end(res)
    finally:
        shutil.rmtree(c["work"], ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(c["work"]))
        except OSError:
            pass
    for f in failures:
        sys.stderr.write(f"CHECK FAILED: {f}\n")
    out = {"correct": not failures, "attempted": res["ops"], "failed": 0, "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
