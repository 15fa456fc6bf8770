"""Benchmark launcher: run one workload with one seed and print its result.

    python3 perfbench/run.py --workload online --seed 1 --seconds 10 --trace 0

Run from the repository root. The launcher pins the Spark environment to
the host (two local cores, a 2 GB driver, local dirs and every table
under a fresh work directory inside the checkout, ``PYTHONPATH`` for the
Python workers), records host markers, runs ``perfbench.worker`` in its own
process session, samples the memory of that whole process tree, and stops
every process of the session before it exits.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(the traced run also writes the Spark event log it parses). The line
before it is ``{"detail": ...}``: host markers, sample counts, tail
percentiles, per-op-class latencies and anything that failed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "temporal_vector_database_spark"
# local[2]: the other vCPUs stay free for the driver JVM's compiler and GC
# threads and the Python processes; on a 4-vCPU host local[4] made the
# same online ops 15-25 % slower
MAX_CPUS = 2
DRIVER_MEMORY = "2g"
RUN_TIMEOUT_S = 170
WORK = ".perfbench_work"

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_gmean_ms": "ms",
    "ops_per_s": "1/s",
    "storage_bytes_per_user_byte": "ratio",
    "peak_rss_mb": "MB",
}


def _session_pids(sid: int) -> list[int]:
    """Every live process whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        # fields[0] is the state; session id is the 6th field of stat
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _other_spark_or_pytest() -> list[str]:
    """Other Spark JVMs or pytest runs alive on the host (not ours)."""
    mine = os.getsid(0)
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            if os.getsid(int(name)) == mine:
                continue
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "org.apache.spark.deploy.SparkSubmit" in cmd or "pytest" in cmd:
            found.append(cmd[:120])
    return found


def _cpu_jiffies() -> list[int]:
    """The host's CPU time so far: user, nice, system, idle, iowait, irq,
    softirq, steal (in clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_markers(cpus: int) -> dict:
    from temporal_vector_database_spark.bench_util import cpu_probe_parallel_sec, cpu_probe_sec

    return {
        "nproc": os.cpu_count(),
        "spark_cpus": cpus,
        "loadavg_start": os.getloadavg()[0],
        "cpu_probe_sec": cpu_probe_sec(),
        "cpu_probe_parallel_sec": cpu_probe_parallel_sec(threads=cpus),
        "other_spark_or_pytest": _other_spark_or_pytest(),
    }


def pinned_env(work: str, cpus: int, traced: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir=file://{work}/warehouse",
    ]
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work}/eventlog",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "TVDB_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            # every JVM (spark-submit's launcher too) keeps its temporary
            # files in the work directory and writes no perf-data file
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf)
            + f" --driver-java-options -Dderby.system.home={work} pyspark-shell",
        }
    )
    return env


def _stop_session(sid: int) -> None:
    """Kill what is left of the run's process session and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _session_pids(sid):
            return
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while _session_pids(sid) and time.time() < deadline:
            time.sleep(0.1)


def _component(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "python_workers"
    if b"java" in cmd.split(b"\0")[0]:
        return "jvm"
    return "python_workers" if b"pyspark" in cmd else "driver_python"


def run_worker(argv: list[str], env: dict, log_path: str, deadline: float) -> tuple[int | None, dict]:
    """Run the worker; returns (exit code or None on timeout, peak RSS MB
    of its whole process tree and of each part, sampled every 0.2 s)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", *argv],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        peak = {"total": 0, "jvm": 0, "driver_python": 0, "python_workers": 0}
        try:
            while proc.poll() is None:
                if time.time() > deadline:
                    break
                now = dict.fromkeys(peak, 0)
                for p in _session_pids(proc.pid):
                    kb = _rss_kb(p)
                    now["total"] += kb
                    now[_component(p)] += kb
                peak = {k: max(v, now[k]) for k, v in peak.items()}
                time.sleep(0.2)
        finally:
            _stop_session(proc.pid)
            proc.wait()
    code = proc.returncode if time.time() <= deadline else None
    return code, {k: v / 1024 for k, v in peak.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    work = os.path.join(ROOT, WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        markers = host_markers(cpus)
        cpu0 = _cpu_jiffies()
        out_path = os.path.join(work, "result.json")
        log_path = os.path.join(work, "worker.log")
        code, peak_mb = run_worker(
            [
                "--workload", a.workload,
                "--seed", str(a.seed),
                "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--work-dir", work,
                "--out", out_path,
            ],
            pinned_env(work, cpus, bool(a.trace)),
            log_path,
            t_start + RUN_TIMEOUT_S,
        )
        cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
        # the share of the vCPUs' time the hypervisor gave to others
        markers["cpu_steal_frac"] = cpu[7] / max(1, sum(cpu))
        if code != 0 or not os.path.exists(out_path):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
            return 1
        with open(out_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    markers["loadavg_end"] = os.getloadavg()[0]
    res["metrics"]["peak_rss_mb"] = peak_mb["total"]
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, **markers, **res["detail"]}
    detail["peak_rss_mb_by_part"] = peak_mb
    detail["end_to_end"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["metrics"].items()}
    if a.trace:
        from perfbench.trace import unit_of

        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["per_layer"].items()}
    else:
        metrics = detail.pop("end_to_end")
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
