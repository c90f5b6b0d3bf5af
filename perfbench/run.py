#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, in a fresh process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload llm-curation --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a separate traced run and writes its span tree to
``perfbench/out/``. ``--sf 0.001`` runs the same workload on the
smallest fixtures as a smoke test. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

A run does a fixed amount of work, one cold first pass and
``WARM_PASSES`` warm passes (about 30 s at sf0.1 on 4 cores), so that
every run of a workload is comparable. ``--seconds`` is recorded
with the run but does not change the work.

This launcher pins the run environment before the JVM exists (cores,
driver memory, PYTHONPATH, Spark and Python scratch dirs inside the
checkout), starts ``worker.py`` in a new process group, and after the
worker exits checks what the run left behind: staged micro-batch logs,
any file of the checkout created, deleted or modified outside the
benchmark's scratch and output dirs, and any process still alive in the
group.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # a run leaves the checkout as it found it
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import END_TO_END, PER_LAYER, UNITS, WORKLOADS  # noqa: E402

WORK = os.path.join(HERE, "_work")
OUT = os.path.join(HERE, "out")
WORKER_TIMEOUT_S = 170.0  # a run must end within 180 s
# driver heap: a quarter of the host, at most 4 GiB (the engine's
# default of 48 GiB assumes a large box)
DRIVER_MEM_CAP_GIB = 4


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", help="fixture scale factor")
    return ap.parse_args()


def fixture_dir(sf: str) -> str:
    """The fixture tree the test suite reads (tests/conftest.py),
    at scale factor ``sf``."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    os.environ.pop("SPARK_GRAFT_TEST_SF_DIR", None)
    import conftest

    return os.path.join(os.path.dirname(conftest.SF_DIR), f"sf{sf}")


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside the
    benchmark's own scratch and output dirs, for the did-the-run-change-
    anything check."""
    skip = {WORK, OUT, os.path.join(root, ".git")}
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if os.path.join(dirpath, d) not in skip]
        for f in filenames:
            path = os.path.join(dirpath, f)
            st = os.lstat(path)
            out[path] = (st.st_size, st.st_mtime_ns)
    return out


def changed_files(before: dict, after: dict) -> list[str]:
    """Files the run created, deleted or modified."""
    return sorted(p for p in before.keys() | after.keys()
                  if before.get(p) != after.get(p))


def git_commit() -> str | None:
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout.strip() if res.returncode == 0 else None


def environment(args: argparse.Namespace, sf_dir: str) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    mem_gib = max(1, min(DRIVER_MEM_CAP_GIB, int(phys_gib // 4)))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
        "PYTHONPATH": os.pathsep.join([ROOT, os.path.join(ROOT, "tests"), HERE]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # -XX:-UsePerfData: no JVM perf-data file outside the checkout
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "driver_mem_gib": mem_gib,
        "host_mem_gib": round(phys_gib, 1), "sf": float(args.sf),
        "sf_dir": sf_dir, "commit": git_commit(),
        "python": sys.version.split()[0],
    }
    return env, record


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process left in the worker's group (the JVM is a
    child of the worker) and wait until the group is empty."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    args = _args()
    if not (os.path.isdir(os.path.join(ROOT, "eye_of_sauron_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "_oracle.py"))):
        print(f"perfbench: no eye_of_sauron_spark package and tests/_oracle.py "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sf_dir = fixture_dir(args.sf)
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no fixtures in {sf_dir}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    before = snapshot(ROOT)
    env, record = environment(args, sf_dir)
    print(json.dumps({"environment": record}), flush=True)
    trace_out = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace),
           "--sf-dir", sf_dir, "--cores", str(record["cores"]),
           "--trace-out", trace_out]
    env["PERFBENCH_SPAWN_EPOCH"] = repr(time.time())
    proc = subprocess.Popen(cmd, env=env, cwd=WORK, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_group(proc)
        proc.wait()
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S:.0f} s", file=sys.stderr)
        return 1
    finally:
        stop_group(proc)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    res = json.loads(lines[-1])

    # what the run left behind
    leftover_logs = [d for d in os.listdir(env["TMPDIR"]) if d.startswith("staged_log_")]
    written = changed_files(before, snapshot(ROOT))
    shutil.rmtree(WORK, ignore_errors=True)
    checks = {
        "failures": res["failures"],
        "leaked_rdds": res["leaked_rdds"],
        "staged_logs_left": leftover_logs,
        "files_changed": written[:20],
    }
    print(json.dumps({"checks": checks, "session": res["session"],
                      "passes": res["passes"]}), flush=True)
    correct = (res["failed"] == 0 and res["leaked_rdds"] == 0
               and not leftover_logs and not written)

    names = ([n for n, *_ in END_TO_END] if not args.trace
             else [n for n, *_ in PER_LAYER])
    metrics = {n: {"value": res["metrics"][n], "unit": UNITS[n]} for n in names}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
