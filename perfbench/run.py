"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload {build,search,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The workload runs in
a child process (perfbench/workload.py) on ``local[4]``; this process
checks the host first, samples the resident memory of the child's whole
process tree (driver JVM, Python driver and Python workers) from
outside, stops every process the child started, and prints each metric
by name with its unit. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).

It exits with a non-zero code and prints no result when the host is too
small, the package is missing, or the workload fails or runs too long.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from per_layer import metric_names, unit_of

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "peterman_search_engine_spark"

CORES_NEEDED = 4
DRIVER_MEM_GB = 3
# Host RAM the workloads need: the driver heap, JVM overhead, Python
# workers and the Python driver with its oracle.
RAM_NEEDED_GB = 6
CHILD_TIMEOUT_S = 165  # plus at most 5 s to stop: a run ends within 180 s
SAMPLE_EVERY_S = 0.2

END_TO_END_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s",
    "rate_per_s": "1/s", "index_bytes_per_turn": "B",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_check() -> None:
    """Exit up front when this host cannot run the workloads."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        fail(f"package {PACKAGE}/ not found under {ROOT}; run from a checkout of the repository")
    cores = len(os.sched_getaffinity(0))
    if cores < CORES_NEEDED:
        fail(f"needs {CORES_NEEDED} cores for local[{CORES_NEEDED}], this host has {cores}")
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    mem_gb = mem_kb / 2**20
    if DRIVER_MEM_GB > mem_gb:
        fail(f"driver memory {DRIVER_MEM_GB}g exceeds host RAM {mem_gb:.1f} GiB")
    if mem_gb < RAM_NEEDED_GB:
        fail(f"needs {RAM_NEEDED_GB} GiB RAM, this host has {mem_gb:.1f} GiB")
    if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
        fail("no Java runtime found (java not on PATH, JAVA_HOME unset)")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not installed")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants, in MB. Each
    process counts its proportional share (Pss) of resident pages, so
    pages shared by the forked Python workers are counted once."""
    kids = _children()
    todo, total_kb = [pid], 0
    while todo:
        p = todo.pop()
        todo += kids.get(p, [])
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the child's session and wait for them:
    SIGTERM, up to 5 s for them to exit, then SIGKILL."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    deadline = time.time() + 5
    while time.time() < deadline:
        proc.poll()  # reap the child, so that only live processes hold the group
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.2)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()


def child_env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData (here and for the launcher JVM below): no
    # hsperfdata file under /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PSE_DRIVER_MEM": f"{DRIVER_MEM_GB}g",
        "PSE_UI": "false",
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "{java_opts}" '
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    })
    return env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "search", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    host_check()

    runs = os.path.join(HERE, "_runs")
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(runs, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    peak = 0.0
    marker = os.path.join(work, "measured_end")
    try:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=child_env(work), stdout=sys.stderr, stderr=sys.stderr,
            start_new_session=True,
        )
        t_end = time.time() + CHILD_TIMEOUT_S
        try:
            while proc.poll() is None and time.time() < t_end:
                if not os.path.exists(marker):
                    peak = max(peak, tree_rss_mb(proc.pid))
                time.sleep(SAMPLE_EVERY_S)
            rc = proc.poll()
        finally:
            stop_group(proc)
        if rc is None:
            print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
            return 1
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: workload exited with code {rc}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        if args.trace:
            spans_out = os.path.join(runs, os.path.basename(res["spans"]))
            shutil.move(res["spans"], spans_out)
            res["spans"] = spans_out
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in report(res, args.trace, peak):
        print(line)
    return 0


def report(res: dict, trace: int, peak_mb: float) -> list[str]:
    """The output lines for a workload result; the last is the JSON line."""
    if trace:
        metrics = {k: {"value": res["per_layer"][k], "unit": unit_of(k)} for k in metric_names()}
    else:
        e2e = dict(res["end_to_end"], peak_rss_mb=peak_mb)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    lines = [f"workload: {res['workload']}  seed: {res['seed']}  trace: {trace}  "
             f"timed operations: {res['notes'].get('samples')}"]
    lines += [f"  note {k}: {v}" for k, v in res["notes"].items()]
    if trace:
        lines.append(f"  spans: {os.path.relpath(res['spans'], ROOT)}")
    lines += [f"  {k}: {m['value']:.6g} {m['unit']}" for k, m in metrics.items()]
    lines.append(f"  failed_ratio: {res['failed'] / max(res['attempted'], 1):.6g} "
                 f"({res['failed']} of {res['attempted']} operations)")
    lines.append(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return lines

if __name__ == "__main__":
    sys.exit(main())
