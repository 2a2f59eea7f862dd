"""CDC / incremental-ingest benchmark.

    python3 perfbench/run.py --workload cdc_mor_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The workload runs in its own child
process on ``local[<nproc>]``; this launcher pins the environment,
keeps every file the run writes inside the checkout, stops every process the
child leaves behind, and prints a report whose last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the run records a Spark event log and the metrics are the
per-layer ones. The exit code is non-zero when an output does not match its
oracle or the run fails. Workloads and metrics are described in
``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

WORKLOADS = ("cdc_mor_mixed", "dedup_ingest")
CHILD_TIMEOUT_S = 170
WORK = ".perfbench_work"
CACHE = ".perfbench_cache"


def _meminfo_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user time
    return delta[7] / total if total > 0 else 0.0


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def pin_environment(work: str) -> dict:
    """Environment of the child: all cores, a driver heap sized to the box,
    and every scratch directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = _meminfo_gb()
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM, spark-submit's launcher included, would otherwise keep
        # an hsperfdata file under the system /tmp
        JAVA_TOOL_OPTIONS=" ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
        ),
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    return {"env": env, "cpus": cpus, "ram_gb": ram_gb, "driver_mem": f"{heap_gb}g"}


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap_group(pgid: int) -> None:
    """Stop every process left in the child's process group and wait until
    none remains."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def run_child(workload: str, seed: int, seconds: float, trace: int, pinned: dict) -> dict | None:
    work = os.path.join(ROOT, WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(pinned["env"], TMPDIR=os.path.join(work, "tmp"))
    out = os.path.join(ROOT, WORK, f"result-{workload}.json")
    if os.path.exists(out):
        os.remove(out)
    log_path = os.path.join(ROOT, WORK, f"child-{workload}.log")
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--cache", os.path.join(ROOT, CACHE),
        "--out", out,
    ]
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(child.pid)
            child.wait()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-30:]
        print(f"{workload}: child {'timed out' if code is None else f'exited {code}'}", file=sys.stderr)
        print("\n".join(tail), file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "migration_pair_spark", "__init__.py")):
        print("run from the root of a source checkout: migration_pair_spark/ not found", file=sys.stderr)
        return 2

    from perfbench import metrics

    # a terminated launcher still stops the child's process group (run_child's finally)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    pinned = pin_environment(os.path.join(ROOT, WORK))
    env_record = {
        "nproc": pinned["cpus"],
        "ram_gb": round(pinned["ram_gb"], 1),
        "driver_mem": pinned["driver_mem"],
        "python": platform.python_version(),
        "git_commit": _git_commit(),
    }
    try:
        import pyspark

        env_record["spark"] = pyspark.__version__
    except ImportError:
        env_record["spark"] = "missing"

    wl = a.workload
    cpu0, t0 = _cpu_times(), time.perf_counter()
    res = run_child(wl, a.seed, a.seconds, a.trace, pinned)
    steal = _steal_share(cpu0, _cpu_times())
    print(f"environment: {json.dumps(env_record)}")
    if res is None:
        return 1
    e2e = metrics.end_to_end(res)
    ok = res["failed"] == 0
    last = os.path.join(ROOT, WORK, f"last-untraced-{wl}.json")
    print(f"== {wl}  run {time.perf_counter() - t0:.1f} s  steal {steal:.1%}  java {res['java_version']}")
    units = dict(metrics.END_TO_END) | metrics.DETAIL_UNITS
    values = e2e["metrics"] | e2e["detail"]
    print("   " + "  ".join(f"{n}={_fmt(v)} {units[n]}" for n, v in values.items()))
    print("   samples: " + "  ".join(f"{n}={c}" for n, c in e2e["counts"].items()))
    if a.trace:
        layer, detail = metrics.per_layer(res, pinned["cpus"])
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)["batch_p50_s"]
            detail["trace.overhead"] = e2e["metrics"]["batch_p50_s"] / base
        lu = dict(metrics.PER_LAYER) | metrics.DETAIL_UNITS | {"trace.driver_gap_share": "ratio", "trace.overhead": "ratio"}
        print("   layers: " + "  ".join(f"{n}={_fmt(v)} {lu.get(n, '')}" for n, v in (layer | detail).items()))
        chosen = {n: (layer[n], u) for n, u in metrics.PER_LAYER}
    else:
        with open(last, "w") as f:
            json.dump(e2e["metrics"], f)
        chosen = {n: (e2e["metrics"][n], u) for n, u in metrics.END_TO_END}
    for err in res["errors"]:
        print(f"   MISMATCH {err}")
    final = {n: {"value": v, "unit": u} for n, (v, u) in chosen.items()}
    print(json.dumps({"correct": ok, "attempted": max(res["attempted"], 1), "failed": res["failed"], "metrics": final}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
