"""One fresh benchmark process: become ready, then run a workload.

``--setup-probe`` only times readiness (``get_spark()`` plus importing
``__spark_entry__``) and exits. Otherwise the process runs the workload's
untimed warm-up passes (the first records each query's reference digest),
then its timed passes, then checks the first warm-up pass's results against
the queries' DuckDB oracles. It writes one JSON report to ``--out`` and
exits without stopping the JVM; ``run.py`` stops every process the run
started.
"""

from __future__ import annotations

import argparse
import decimal
import gc
import hashlib
import json
import os
import random
import sys
import time
import traceback

from tests import oracle_utils as ou

#: timed passes a run makes at least. The tail is the highest percentile
#: with ten samples beyond it; with five or six queries a pass, six passes
#: put it among the samples of one query, whereas below 21 samples it would
#: be the run's single slowest sample.
MIN_TIMED_PASSES = 6


def _round9(v):
    """Doubles and decimals to 9 significant digits, recursively; anything
    else unchanged (``oracle_utils._norm`` normalizes the rest)."""
    if isinstance(v, float) and v == v:
        return float(f"{v:.9g}") + 0.0
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}") + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_round9(x) for x in v)
    return v


def digest(rows) -> str:
    """Row count plus an order-insensitive hash of the rows, normalized as
    the oracle check normalizes them."""
    keys = sorted(repr(ou._norm(_round9(tuple(r)))) for r in rows)
    return f"{len(keys)}:" + hashlib.sha1("\n".join(keys).encode()).hexdigest()


def _jvm_dead(exc: BaseException) -> bool:
    from py4j.protocol import Py4JNetworkError

    return isinstance(exc, (Py4JNetworkError, ConnectionError, EOFError))


def _rss_peak_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    fields = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            fields[k] = v.split()
    kb = fields.get("VmHWM") or fields.get("VmRSS") or ["0"]
    return int(kb[0]) / 1024.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--setup-probe", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data")
    ap.add_argument("--tmp")
    ap.add_argument("--eventlog")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    from datafusion_impl_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    import __spark_entry__ as entry

    t2 = time.perf_counter()
    report: dict = {"setup": {"setup_s": t2 - t0, "start_s": t1 - t0, "import_s": t2 - t1}}
    if args.setup_probe:
        with open(args.out, "w") as f:
            json.dump(report, f)
        return 0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import layers as tr
    from workloads import WORKLOADS

    from datafusion_impl_spark import streaming

    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[args.workload]
    # the streaming CDC query keeps its feed, state and checkpoint under this
    # module constant; point it into the run directory
    streaming._CDC_ROOT = os.path.join(args.tmp, "stream_cdc")
    tracer = tr.Tracer()
    if args.trace:
        tr.install(tracer, entry)
    registry = entry.queries()
    rng = random.Random(args.seed)
    sc = spark.sparkContext

    failures: list[dict] = []
    reference: dict[str, str] = {}
    warm: dict[str, tuple] = {}
    executions: list[dict] = []
    passes: list[dict] = []
    attempted = 0
    warmup_latency: dict[str, float] = {}
    jvm_dead = False

    def run(name: str, p: int, timed: bool) -> dict | None:
        nonlocal jvm_dead
        ex = {"id": f"{p}:{name}", "pass": p, "name": name}
        traced = bool(args.trace) and timed
        if traced:
            # every job the query starts carries this id, in its own thread
            # or in the stream threads it starts, which inherit it
            sc.setLocalProperty(tr.QUERY_PROPERTY, ex["id"])
            tracer.query = ex["id"]
        tracer.enabled = traced
        ex["start"] = time.time()
        t = time.perf_counter()
        try:
            with tracer.span("query", name):
                df = registry[name](spark, args.data)
                with tracer.span("action", "collect"):
                    rows = df.collect()
        except Exception as e:  # one query's failure must not end the run
            failures.append({"pass": p, "name": name, "error": f"{type(e).__name__}: {e}"[:500]})
            jvm_dead = jvm_dead or _jvm_dead(e)
            return None
        finally:
            tracer.enabled = False
        ex["latency_s"] = time.perf_counter() - t
        ex["end"] = time.time()
        ex["rows"] = len(rows)
        d = digest(rows)
        if p == 0:
            reference[name] = d
            warm[name] = (df, rows)
            warmup_latency[name] = ex["latency_s"]
        elif d != reference.get(name):
            failures.append(
                {"pass": p, "name": name, "error": f"digest {d} != sequential {reference.get(name)}"}
            )
            return None
        return ex

    def one_pass(p: int, timed: bool) -> None:
        nonlocal attempted
        order = list(wl.queries)
        rng.shuffle(order)
        attempted += len(order)
        if not jvm_dead:
            # start every pass from a collected heap, Python side first so
            # the JVM can release what Python held
            gc.collect()
            spark._jvm.System.gc()
        t = time.perf_counter()
        done = 0
        for name in order:
            if jvm_dead:
                failures.append({"pass": p, "name": name, "error": "not run: JVM gone"})
                continue
            ex = run(name, p, timed)
            if ex is not None:
                done += 1
                if timed:
                    executions.append(ex)
        if timed:
            passes.append({"pass": p, "s": time.perf_counter() - t, "complete": done == len(order)})

    t_warm = time.perf_counter()
    for p in range(wl.warmup_passes):
        one_pass(p, False)
    start = time.perf_counter()
    report["warmup_s"] = start - t_warm
    report["warmup_latency_s"] = warmup_latency
    n_passes = max(MIN_TIMED_PASSES, round(args.seconds / wl.nominal_pass_s))
    for p in range(wl.warmup_passes, wl.warmup_passes + n_passes):
        if jvm_dead:
            break
        one_pass(p, True)
    report["measure_s"] = time.perf_counter() - start

    t_oracle = time.perf_counter()
    report["oracle"] = check_oracles(registry, wl.queries, warm, args.data)
    report["oracle_s"] = time.perf_counter() - t_oracle
    if args.trace and not jvm_dead:
        report["session_rss_peak_mb"] = _rss_peak_mb(spark)
        report["trace_unit_cost_s"] = tr.unit_costs(sc)
        spark.stop()  # flushes the event log
    report["executions"] = executions
    report["passes"] = passes
    report["failures"] = failures
    report["attempted"] = attempted
    if args.trace:
        log = tr.read_event_log(args.eventlog)
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        report["layers"] = tr.layer_metrics(tracer.spans, executions, log, cores)
    with open(args.out, "w") as f:
        json.dump(report, f)
    return 0


def check_oracles(registry, names, warm: dict, data_dir: str) -> dict:
    """Compare each query's first warm-up result with its DuckDB oracle over
    the same tables, through the repository's comparator gates
    (``tests/oracle_utils``): no array/map/struct columns, the same column
    names, the same dtype family per column, then the same multiset of rows
    after ``rows_to_set``'s normalization. Doubles are rounded to 9
    significant digits first: the engines sum floats in different orders,
    so on seeded data the last digits can differ."""
    import duckdb

    from datafusion_impl_spark.sources.registry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    out = {}
    for name in names:
        # only this query's oracle is resolved: some oracles are callables
        # that stage files of their own
        oracle = getattr(sys.modules[registry[name].__module__], "ORACLES", {}).get(name)
        if oracle is None:
            out[name] = "no oracle"
            continue
        if name not in warm:
            out[name] = "FAIL: query failed"
            continue
        df, rows = warm[name]
        try:
            rel = con.sql(oracle() if callable(oracle) else oracle)
            bad = ou._complex_columns(df)
            if bad:
                out[name] = f"FAIL: array/map/struct columns {bad}"
                continue
            if sorted(df.columns) != sorted(rel.columns):
                out[name] = f"FAIL: columns {sorted(df.columns)} != {sorted(rel.columns)}"[:300]
                continue
            dt_bad = ou._dtype_mismatches(df, rel)
            if dt_bad:
                out[name] = ("FAIL: dtype families " + "; ".join(dt_bad))[:300]
                continue
            d_rows = rel.fetchall()
        except Exception as e:  # an oracle error is a failed check
            out[name] = f"FAIL: {type(e).__name__}: {e}"[:300]
            continue
        _, s_set = ou.rows_to_set(df.columns, [_round9(tuple(r)) for r in rows])
        _, d_set = ou.rows_to_set(rel.columns, [_round9(r) for r in d_rows])
        out[name] = "ok" if s_set == d_set else f"FAIL: rows differ ({len(rows)} vs {len(d_rows)} rows)"
    con.close()
    return out


if __name__ == "__main__":
    try:
        rc = main()
    except Exception:
        traceback.print_exc()
        rc = 1
    # the caller stops the JVM and the Python workers; skipping the orderly
    # shutdown keeps it out of every run's wall time
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)
