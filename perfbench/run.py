"""Benchmark of the open_thoughts_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload qf --seed 1 --seconds 8 --trace 0

A closed loop with one client: the operations of a workload run one after
another in one Spark session at ``local[nproc]``.  A run starts the JVM,
builds the inputs from the seed, sets the session up three times (restart
plus one scan of every input; the median is ``setup_s``), runs the cold
pass (each operation's first execution) and then warm passes on fresh plans
until ``--seconds`` have passed and at least ``min_warm`` ran.  Every
output is checked against an oracle outside the timed region.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` additionally replays one warm pass in a session with an
uncompressed event log and job-description tags and reports the per-layer
metrics.  The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TAG = "perfbench"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def weather_mb_s(seconds: float = 0.3) -> float:
    """Host weather: aggregate sha256 MB/s over nproc threads (context only)."""
    buf = b"\0" * (1 << 20)
    done = [0] * nproc()
    stop = time.perf_counter() + seconds

    def spin(i: int) -> None:
        while time.perf_counter() < stop:
            hashlib.sha256(buf).digest()
            done[i] += 1

    threads = [threading.Thread(target=spin, args=(i,)) for i in range(nproc())]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(done) / (time.perf_counter() - t0)


def _descendants() -> list[tuple[int, str]]:
    """(pid, command name) of every process descended from this one."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm[int(d)] = stat[stat.index("(") + 1 : stat.rindex(")")]
        children.setdefault(int(stat[stat.rindex(")") + 2 :].split()[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            todo.append(c)
            out.append((c, comm.get(c, "")))
    return out


def _jvm_pids() -> list[int]:
    return [p for p, name in _descendants() if name == "java"]


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def reset_peak_rss() -> None:
    """Writing 5 to clear_refs resets VmHWM, so the peak covers the timed passes."""
    for pid in [os.getpid(), *_jvm_pids()]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    return sum(_status_kb(p, "VmHWM") for p in [os.getpid(), *_jvm_pids()]) / 1024.0


def session(eventlog: str | None = None):
    from open_thoughts_spark.session import get_spark

    n = nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.eventLog.enabled": "true" if eventlog else "false",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + eventlog, "spark.eventLog.compress": "false"})
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_pass(spark, wl, walls: dict, failures: list, tag: str | None = None) -> float:
    t0 = time.perf_counter()
    for op in wl.ops():
        if tag:
            spark.sparkContext.setJobDescription(f"{tag}:{op}")
        s = time.perf_counter()
        try:
            wl.run(spark, op)
        except Exception as exc:  # counted in fail_frac; the loop goes on
            print(f"{op} raised {type(exc).__name__}: {exc}")
            failures.append(op)
        walls.setdefault(op, []).append(time.perf_counter() - s)
    return time.perf_counter() - t0


def stop_all() -> None:
    """End the JVM and every process it started (Python workers included),
    and wait until each has ended.  Sessions that must flush their event
    log are stopped before this."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    started = [p for p, _ in _descendants()]
    gw.shutdown()
    gw.proc.kill()
    gw.proc.wait()
    deadline = time.monotonic() + 30
    while any(_running(p) for p in started):
        if time.monotonic() > deadline:
            for p in filter(_running, started):
                os.kill(p, signal.SIGKILL)
            deadline += 30
        time.sleep(0.05)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--profile-out", help="also write every measurement to this JSON file")
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    headline = [
        m["name"].split(".")[1] for m in spec["per_layer"]
        if m["name"].startswith("query.") and m["name"].endswith(".cold_s")
    ]
    sys.path.insert(0, ROOT)
    import open_thoughts_spark  # noqa: F401  (fails fast outside a checkout)

    import workloads

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
    })

    wl = workloads.make(args.workload, os.path.join(WORK, "data"), args.seed, headline)
    spark = None
    try:
        weather_before = weather_mb_s()
        t0 = time.perf_counter()
        spark = session()
        spark.range(1).count()
        jvm_start_s = time.perf_counter() - t0
        wl.prepare(spark)

        setups = []
        for _ in range(3):
            spark.stop()
            t0 = time.perf_counter()
            spark = session()
            spark.range(1000).count()
            wl.warm_up(spark)
            setups.append(time.perf_counter() - t0)

        reset_peak_rss()
        walls: dict[str, list[float]] = {}
        failures: list[str] = []
        cold_s = timed_pass(spark, wl, walls, failures)
        passes, t_start = 0, time.perf_counter()
        while passes < wl.min_warm or time.perf_counter() - t_start < args.seconds:
            timed_pass(spark, wl, walls, failures)
            passes += 1
        rss = peak_rss_mb()
        op_warm = {op: statistics.median(w[1:]) for op, w in walls.items()}
        warm_s = sum(op_warm.values())

        layers: dict[str, float] = {"peak_rss_mb": rss}
        per_op: dict[str, dict] = {}
        if args.trace:
            per_op = trace(spark, wl, walls, op_warm, warm_s, jvm_start_s, layers)
            spark = session()
        wl.check(spark)
        weather_after = weather_mb_s()
    finally:
        stop_all()

    ops_run = sum(len(w) for w in walls.values())
    attempted = ops_run + len(wl.results)
    failed = len(failures) + sum(not ok for _, ok in wl.results)
    e2e = {"setup_s": statistics.median(setups), "cold_s": cold_s, "warm_s": warm_s}
    report(args, wl, e2e, rss, walls, op_warm, failures, weather_before, weather_after)

    if args.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    if args.profile_out:
        with open(args.profile_out, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "nproc": nproc(),
                "weather_mb_s": [weather_before, weather_after], "end_to_end": e2e,
                "setups_s": setups, "walls_s": walls,
                "per_layer": {m["name"]: layers.get(m["name"], 0) for m in spec["per_layer"]},
                "per_op": per_op,
            }, f, indent=1, sort_keys=True)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


def report(args, wl, e2e, rss, walls, op_warm, failures, before, after) -> None:
    """Human-readable lines: per part of the workload, the eight end-to-end
    names of the benchmark's design (n/a where a name does not apply)."""
    print(f"workload {args.workload} seed {args.seed} nproc {nproc()} "
          f"weather_mb_s {before:.0f}->{after:.0f}")
    turns = getattr(wl, "turns", 0)
    for part, ops in wl.parts().items():
        w = {op: op_warm[op] for op in ops}
        attempted = sum(len(walls[op]) for op in ops) + sum(op in ops for op, _ in wl.results)
        failed = sum(op in ops for op in failures) + sum(op in ops and not ok for op, ok in wl.results)
        rate_op = "cli" if "cli" in w else "compute" if "compute" in w else None
        rows = [
            ("setup_s", e2e["setup_s"], "s"),
            ("turns_per_s", turns / w[rate_op] if rate_op else None, "1/s"),
            ("resume_s", w.get("resume"), "s"),
            ("wall_s", sum(w.values()) if part == "neardup" else None, "s"),
            ("cold_s", sum(walls[op][0] for op in ops), "s"),
            ("warm_s", sum(w.values()), "s"),
            ("peak_rss_mb", rss, "MB"),
            ("fail_frac", failed / attempted, "1"),
        ]
        print(f"  {part}: check {'ok' if not failed else 'FAILED'} "
              f"({attempted - failed}/{attempted} operations)")
        for name, value, unit in rows:
            print(f"    {name:<12} {'n/a' if value is None else f'{value:.4f}':>12} {unit}")


def trace(spark, wl, walls, op_warm, warm_s, jvm_start_s, layers) -> dict:
    """One warm pass in a traced session; adds the per-layer numbers to
    ``layers`` and returns a per-operation breakdown."""
    from eventlog import EventLog

    logdir = os.path.join(WORK, "eventlog")
    spark.stop()
    spark = session(eventlog=logdir)
    spark.range(1000).count()
    wl.warm_up(spark)
    tag = f"{TAG}:pass"
    traced_s = timed_pass(spark, wl, {}, [], tag=tag)
    spark.sparkContext.setJobDescription(f"{TAG}:probe:plan")
    build_s = plan_s = 0.0
    for op in wl.ops():
        t0 = time.perf_counter()
        df = wl.build(spark, op)
        t1 = time.perf_counter()
        if df is not None:
            df._jdf.queryExecution().executedPlan()
        build_s, plan_s = build_s + t1 - t0, plan_s + time.perf_counter() - t1
    layers.update(wl.probe(spark, f"{TAG}:probe"))
    layers.update(python_probes())
    spark.stop()

    log = EventLog.load(logdir)
    in_pass = lambda d: d.startswith(tag + ":")  # noqa: E731
    layers.update(log.summary(in_pass))
    layers.update(wl.from_log(log, tag, op_warm))
    layers.update({
        "session.start_s": jvm_start_s,
        "driver.build_s": build_s,
        "driver.plan_s": plan_s,
        "driver.outside_stages_s": max(traced_s - log.stage_busy_s(in_pass), 0.0),
        "trace_overhead": traced_s / warm_s,
    })
    for op in getattr(wl, "headline", []):
        layers[f"query.{op}.cold_s"] = walls[op][0]
        layers[f"query.{op}.warm_s"] = op_warm[op]
    return {
        op: {"cold_s": walls[op][0], "warm_s": op_warm[op],
             **log.summary(lambda d, op=op: d == f"{tag}:{op}")}
        for op in wl.ops()
    }


def python_probes(n: int = 10_000) -> dict:
    """Direct langid / perplexity batch calls on a fixed 10k-row batch."""
    import pandas as pd
    import pyarrow.parquet as pq

    from open_thoughts_spark.functions.langid import langid_pandas
    from open_thoughts_spark.functions.perplexity import bits_per_char_batch

    texts = pq.read_table(os.path.join(HERE, "data", "sf0.001", "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    batch = pd.Series((texts * (n // len(texts) + 1))[:n])
    t0 = time.perf_counter()
    langid_pandas(batch)
    t1 = time.perf_counter()
    bits_per_char_batch(batch)
    t2 = time.perf_counter()
    return {"functions.langid_us_per_row": (t1 - t0) * 1e6 / n,
            "functions.ppl_us_per_row": (t2 - t1) * 1e6 / n}


if __name__ == "__main__":
    sys.exit(main())
