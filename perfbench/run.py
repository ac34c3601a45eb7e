#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 15 --trace 0

Run from the repository root. One run:

1. generates the input tables from ``--seed`` (``datagen.py``) under
   ``.perfbench/`` in the current directory;
2. times readiness in a fresh process (``get_spark()`` plus importing
   ``__spark_entry__``) -- once in a probe process and once in the worker;
3. runs the workload in the worker (``worker.py``): the workload's untimed
   warm-up passes, then the passes that fit ``--seconds`` at its nominal
   pass time (at least six), every result checked against the first
   warm-up pass's digest and every first-pass result against its DuckDB
   oracle;
4. prints a summary and, as the last line, one JSON object with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``) named in ``BENCHMARK.json``.

The program sees ``SPARK_GRAFT_CPUS`` (the usable core count) and
``SPARK_LOCAL_DIRS``; the package root goes on ``PYTHONPATH`` so Spark's
Python workers can import it. ``TMPDIR``, ``java.io.tmpdir``, the warehouse
directory and the JVM's counters are kept out of ``/tmp``, so every file a
run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: input scale: 60,000 lineitems, 10,000 events, 500 documents
SCALE = 0.01
#: one run must end well inside its 180 s limit
RUN_LIMIT_S = 170.0
_MARK = "PERFBENCH_RUN"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _marked_pids(run_id: str) -> list[int]:
    """Processes started for this run: they inherit its environment mark."""
    needle = f"{_MARK}={run_id}".encode()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(d))
        except OSError:
            continue
    return out


def _stop_all(run_id: str, timeout: float = 20.0) -> None:
    """Kill whatever this run started (the JVM and Python workers included)
    and wait until it is gone."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = _marked_pids(run_id)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks so far: steal is time the host gave this
    machine's CPUs to someone else, the usual cause of a slow run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def _child(cmd: list[str], env: dict, cwd: str, timeout: float) -> int:
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def _tail(lat: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and that
    percentile. Below 21 samples that percentile would not lie above the
    median, so the tail is then the largest sample (p100)."""
    s = sorted(lat)
    i = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.monotonic()
    # a terminated run still stops its processes and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "datafusion_impl_spark"))
    ):
        return _fail("run from the repository root: no __spark_entry__.py / datafusion_impl_spark here")
    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    run_id = uuid.uuid4().hex
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{run_id[:8]}")
    try:
        return _run(args, spec, root, work, run_id, t_begin)
    finally:
        _stop_all(run_id)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, root: str, work: str, run_id: str, t_begin: float) -> int:
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    eventlog = os.path.join(work, "eventlog")
    for d in (data, tmp, eventlog, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    datagen.write(data, args.seed, SCALE)

    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    env.update(
        {
            _MARK: run_id,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_ORACLE_SF_DIR": data,
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "TMPDIR": tmp,
            # the JVMs' performance-counter files would go to /tmp whatever
            # java.io.tmpdir says; keep the counters in memory instead, for
            # spark-submit's launcher JVM here and the driver JVM below
            "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
        }
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    submit = [
        f"--driver-java-options {shlex.quote(java_opts)}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if args.trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{eventlog}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    worker = [sys.executable, os.path.join(HERE, "worker.py")]
    probe_out = os.path.join(work, "probe.json")
    report_out = os.path.join(work, "report.json")
    rc = _child(worker + ["--setup-probe", "--out", probe_out], env, work, 60.0)
    _stop_all(run_id)
    if rc != 0:
        return _fail(f"setup probe exited with {rc}")
    steal0, total0 = _cpu_ticks()
    rc = _child(
        worker
        + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--tmp", tmp, "--out", report_out,
        ]
        + (["--eventlog", eventlog] if args.trace else []),
        env,
        work,
        RUN_LIMIT_S - (time.monotonic() - t_begin),
    )
    steal1, total1 = _cpu_ticks()
    _stop_all(run_id)
    if rc != 0:
        return _fail(f"worker exited with {rc}")
    with open(probe_out) as f:
        probe = json.load(f)
    with open(report_out) as f:
        rep = json.load(f)

    lat = [e["latency_s"] for e in rep["executions"]]
    pass_s = [p["s"] for p in rep["passes"] if p["complete"]]
    setups = [probe["setup"], rep["setup"]]
    bad_oracle = {n: m for n, m in rep["oracle"].items() if m not in ("ok", "no oracle")}
    # executions that raised, returned another digest or were never run,
    # plus warm-up results that disagree with their oracle
    failed = len(rep["failures"]) + len(bad_oracle)
    attempted = rep["attempted"]
    if not lat or not pass_s:
        return _fail(f"no complete pass was measured; failures: {rep['failures'][:5]}")
    tail, tail_pct = _tail(lat)

    print(
        f"workload={args.workload} seed={args.seed} clients=1 passes={len(rep['passes'])} "
        f"samples={len(lat)} tail=p{tail_pct:.1f} warmup_s={rep['warmup_s']:.2f} "
        f"measured_s={rep['measure_s']:.2f} oracle_s={rep['oracle_s']:.2f} "
        f"run_s={time.monotonic() - t_begin:.1f} "
        f"host_steal={(steal1 - steal0) / max(1, total1 - total0):.3f} "
        f"failed={failed}/{attempted} failed_frac={failed / attempted:.4f}"
    )
    by_query: dict[str, list[float]] = {}
    for e in rep["executions"]:
        by_query.setdefault(e["name"], []).append(e["latency_s"])
    print("warm-up latency_s: " + " ".join(
        f"{n}={v:.3f}" for n, v in sorted(rep["warmup_latency_s"].items())))
    print("median latency_s: " + " ".join(
        f"{n}={statistics.median(v):.3f}" for n, v in sorted(by_query.items())))
    print("pass_s: " + " ".join(f"{p['s']:.2f}" for p in rep["passes"]))
    for fl in rep["failures"][:20]:
        print(f"FAILED pass={fl['pass']} {fl['name']}: {fl['error']}")
    for n, m in bad_oracle.items():
        print(f"ORACLE MISMATCH {n}: {m}")

    if args.trace:
        layers = dict(rep.get("layers", {}))
        layers["session.start_s"] = statistics.median(s["start_s"] for s in setups)
        layers["session.import_s"] = statistics.median(s["import_s"] for s in setups)
        layers["session.jvm_rss_peak_mb"] = rep.get("session_rss_peak_mb", 0.0)
        layers["trace.pass_s"] = statistics.median(pass_s)
        # spans recorded per pass times the measured cost of one, plus the
        # query-property call made per query
        cost = rep.get("trace_unit_cost_s", {"span_s": 0.0, "property_s": 0.0})
        layers["trace.overhead_s"] = (
            layers.pop("trace.spans", 0.0) * cost["span_s"]
            + len(WORKLOADS[args.workload].queries) * cost["property_s"]
        )
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "pass_s": statistics.median(pass_s),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, v in values.items():
        print(f"{name} = {v:.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
