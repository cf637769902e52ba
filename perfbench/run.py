"""duckdb_vss_spark benchmark: one seeded closed-loop workload per call.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 10 --trace 0

Run from the repository root. Every input is generated from ``--seed``.
Each run starts one Spark session on ``local[<cores>]``, sets the workload
up, warms every operation shape once, then runs the closed loop for about
``--seconds`` of requests. Every
result is checked against a float64 numpy brute force. The report lines
come first; the last line of standard output is one JSON object.

``--trace 1`` runs the same untraced loop, then a second, traced loop whose
per-layer numbers are reported together with the tracing overhead
(untraced minus traced). Spark's event log is enabled for the whole traced
run. See ``perfbench/METRICS.md`` for every metric.

Everything the run writes stays under ``.perfbench_run/`` in the
repository root and is removed at exit.
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
REPO = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "vectors_per_s": "1/s", "recall_at_10": "ratio"}
PER_OP_LAYERS = (
    ("py4j.round_trips", "count"), ("py4j.ms", "ms"), ("driver.gap_ms", "ms"), ("sql.self_ms", "ms"),
    ("engine.plan_ms", "ms"), ("catalog.calls", "count"), ("catalog.ms", "ms"),
    ("fs.calls", "count"), ("fs.ms", "ms"), ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes"),
    ("fs.manifest_writes", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("catalyst.executions", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("executor.cpu_ms", "ms"), ("executor.run_ms", "ms"), ("executor.gc_ms", "ms"),
    ("python.run_ms", "ms"), ("python.boot_ms", "ms"), ("python.init_ms", "ms"),
    ("python.bytes_sent", "bytes"), ("python.bytes_received", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_ms", "ms"),
    ("spill.bytes", "bytes"),
    ("topk.plan_ms", "ms"), ("knn.plan_ms", "ms"),
    ("ivf.search_ms", "ms"), ("ivf.insert_ms", "ms"), ("ivf.delete_ms", "ms"), ("ivf.compact_ms", "ms"),
    ("store.match_ms", "ms"), ("store.append_ms", "ms"), ("store.vacuum_ms", "ms"),
    ("broadcasts.live", "count"), ("persists.live", "count"),
)
RUN_LAYERS = (
    ("latency.read_p50_ms", "ms"), ("latency.read_tail_ms", "ms"),
    ("engine.index_routed_frac", "ratio"), ("ivf.build_ms", "ms"), ("ivf.kmeans_ms", "ms"),
    ("ivf.tail_rows", "count"), ("ivf.rows_examined_per_result", "ratio"),
    ("store.snapshots_live", "count"), ("store.bytes_on_disk", "bytes"), ("store.planted_recall", "ratio"),
    ("ingest.write_p50_ms", "ms"), ("ingest.write_tail_ms", "ms"), ("ingest.docs_per_s", "1/s"),
    ("ingest.build_s", "s"), ("ingest.stored_bytes_per_input_byte", "ratio"),
    ("oracle.failed_frac", "ratio"), ("memory.peak_rss_mb", "MB"),
    ("trace_overhead.read_p50_ms", "ms"), ("trace_overhead.read_tail_ms", "ms"),
    ("trace_overhead.ops_per_s", "1/s"),
    *((f"host.{m}_{w}", u) for m, u in (("loadavg_1m", "load"), ("job_floor_ms", "ms"),
                                         ("numpy_probe_ms", "ms")) for w in ("start", "end")),
)
PER_LAYER = dict(PER_OP_LAYERS + RUN_LAYERS)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure(run_root: str, trace: bool) -> str:
    """Point every scratch location of Spark, the JVM and Python into the
    run root, before pyspark is imported."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_root, d), exist_ok=True)
    tmp = os.path.join(run_root, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_MASTER", None)
    args = [
        f"--conf spark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    log_dir = os.path.join(run_root, "eventlog")
    if trace:
        args += ["--conf spark.eventLog.enabled=true", "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


# -- host calibration --------------------------------------------------------------
def calibrate(spark) -> dict:
    import numpy as np

    from .stats import median

    floor = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        floor.append(1e3 * (time.perf_counter() - t))
    a = np.random.default_rng(0).normal(size=(256, 256))
    probe = []
    for _ in range(5):
        t = time.perf_counter()
        for _ in range(20):
            a @ a
        probe.append(1e3 * (time.perf_counter() - t))
    return {"loadavg_1m": os.getloadavg()[0], "job_floor_ms": median(floor), "numpy_probe_ms": median(probe)}


# -- processes ----------------------------------------------------------------------
def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until it and every process under it, the Python workers, have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- the loop -------------------------------------------------------------------------
class Runner:
    def __init__(self, spark, tracer=None):
        self.spark, self.tracer = spark, tracer

    def execute(self, op, idx=None) -> dict:
        from .workloads import Outcome

        tr, sc = self.tracer, self.spark.sparkContext
        if tr is not None:
            with tr.pause():
                sc.setJobGroup(f"pb{idx}", op.name)
            tr.op = idx
        err, df = None, None
        w0, t0 = time.time(), time.perf_counter()
        try:
            df, verify = op.fn()
        except Exception as e:  # a failing request is a result, not a crash
            err = f"raised_{type(e).__name__}"
            print(f"# op {op.name} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        t1, w1 = time.perf_counter(), time.time()
        if tr is not None:
            tr.op = None
        try:
            out = Outcome([err]) if err else verify()
        except Exception as e:  # a result the oracle cannot read is a failed check
            out = Outcome([f"unreadable_result_{type(e).__name__}"])
        rec = {"name": op.name, "kind": op.kind, "ms": 1e3 * (t1 - t0), "w0": w0, "w1": w1,
               "failed": out.failed, "recall": out.recall, "vectors": out.vectors}
        if tr is not None:
            rec["op"] = idx
            with tr.pause():
                sc.setJobGroup("pb-aux", "benchmark bookkeeping")
                rec.update(self._after_op(df, out))
        return rec

    def _after_op(self, df, out) -> dict:
        from duckdb_vss_spark.broadcasts import live_broadcast_count

        sc = self.spark.sparkContext
        rec = {"broadcasts.live": live_broadcast_count(sc),
               "persists.live": sc._jsc.getPersistentRDDs().size()}
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                p = phases.get(name)
                rec[f"catalyst.{name}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
        if out.examined is not None:
            rec["examined"] = out.examined()
        return rec

    def loop(self, rounds, seconds: float) -> list[dict]:
        """Whole rounds while the next one is expected to fit. A round is
        drawn only when it will run: drawing one stages its inputs."""
        recs, start, last = [], time.perf_counter(), 0.0
        while not recs or time.perf_counter() - start + last <= seconds:
            ops = next(rounds)
            r0 = time.perf_counter()
            for op in ops:
                recs.append(self.execute(op, len(recs)))
            last = time.perf_counter() - r0
        return recs


# -- metrics ----------------------------------------------------------------------------
def end_to_end(recs: list[dict]) -> dict:
    from .stats import median, tail

    reads = [r["ms"] for r in recs if r["kind"] == "read"]
    busy_s = sum(r["ms"] for r in recs) / 1e3
    recalls = [r["recall"] for r in recs if r["recall"] is not None]
    t, pct, n = tail(reads)
    return {
        "read_p50_ms": median(reads), "read_tail_ms": t, "read_tail_pct": pct, "reads": n,
        "ops_per_s": len(recs) / busy_s,
        "vectors_per_s": sum(r["vectors"] for r in recs if r["kind"] == "read") / busy_s,
        "recall_at_10": sum(recalls) / len(recalls) if recalls else float("nan"),
    }


def write_side(recs: list[dict], docs: int) -> dict:
    from .stats import median, tail

    writes = [r["ms"] for r in recs if r["kind"] == "write"]
    busy_s = sum(r["ms"] for r in recs) / 1e3
    t, pct, n = tail(writes)
    return {"ingest.write_p50_ms": median(writes) if writes else 0.0, "ingest.write_tail_ms": t if writes else 0.0,
            "write_tail_pct": pct, "writes": n, "ingest.docs_per_s": docs / busy_s if docs else 0.0}


def layers(recs, tracer, log) -> dict:
    """Per-layer numbers of the traced loop: per-operation means unless the
    metric's definition in METRICS.md says otherwise."""
    from .stats import union_length

    sums = dict.fromkeys(dict(PER_OP_LAYERS), 0.0)
    routed = engine_ops = examined = returned = 0
    for r in recs:
        op = r["op"]
        row = tracer.op_layers(op)
        row.update({k: v for k, v in r.items() if k.startswith(("catalyst.", "broadcasts.", "persists."))})
        row.update(log.groups.get(f"pb{op}", {}))
        jobs = [(max(s, r["w0"]), min(e, r["w1"])) for s, e in log.job_intervals(f"pb{op}")]
        row["driver.gap_ms"] = r["ms"] - 1e3 * union_length([j for j in jobs if j[1] > j[0]])
        for k in sums:
            sums[k] += float(row.get(k, 0.0))
        if row["engine.reads"]:
            engine_ops += 1
            routed += row["engine.routed"]
        if "examined" in r:
            examined += r["examined"][0]
            returned += r["examined"][1]
    n = max(1, len(recs))
    out = {k: v / n for k, v in sums.items()}
    builds = [s for s in tracer.spans if s.layer == "ivf.build" and s.t1 is not None]
    kmeans = [s for s in tracer.spans if s.layer == "ivf.kmeans" and s.t1 is not None]
    out["ivf.build_ms"] = sum(s.ms for s in builds) / len(builds) if builds else 0.0
    out["ivf.kmeans_ms"] = sum(s.ms for s in kmeans) / len(builds) if builds else 0.0
    out["engine.index_routed_frac"] = routed / engine_ops if engine_ops else 0.0
    out["ivf.rows_examined_per_result"] = examined / returned if returned else 0.0
    return out


# -- main ---------------------------------------------------------------------------------
def parse_args(argv):
    from .workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args, run_root: str) -> dict:
    import resource

    log_dir = configure(run_root, bool(args.trace))
    from .trace import Tracer
    from .workloads import WORKLOADS

    t0 = time.perf_counter()
    from duckdb_vss_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        host_start = calibrate(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, run_root)
        tracer = Tracer() if args.trace else None
        if tracer:
            tracer.install()    # set-up spans give the index build numbers
        t = time.perf_counter()
        wl.setup_state()
        state_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = [Runner(spark).execute(op) for op in wl.warm_up()]
        warm_s = time.perf_counter() - t
        if tracer:
            tracer.uninstall()
        timed = Runner(spark).loop(wl._rounds, args.seconds)
        traced = []
        if tracer:
            tracer.install()
            wl.tracer = tracer
            traced = Runner(spark, tracer).loop(wl._rounds, args.seconds)
            wl.tracer = None
            tracer.uninstall()
        gauges = wl.gauges()
        host_end = calibrate(spark)
        jvm_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    res = {"session_s": session_s, "state_s": state_s, "warm_s": warm_s,
           "setup_s": session_s + state_s + warm_s, "peak_rss_mb": jvm_mb + py_mb,
           "warm": warm, "timed": timed, "traced": traced, "gauges": gauges,
           "host_start": host_start, "host_end": host_end, "docs": getattr(wl, "docs_in", 0)}
    if tracer:
        from .eventlog import EventLog

        res["layers"] = layers(traced, tracer, EventLog.read(log_dir))
    return res


def report(args, res) -> dict:
    from .stats import median

    recs = res["warm"] + res["timed"] + res["traced"]
    failed = [r for r in recs if r["failed"]]
    e2e = end_to_end(res["timed"])
    e2e["setup_s"] = res["setup_s"]
    writes = write_side(res["timed"], res["docs"])
    lines = [f"workload {args.workload} seed {args.seed} cores {cores()} trace {args.trace}"]
    for name, unit in END_TO_END.items():
        lines.append(f"{name:<24} {e2e[name]:>14.4f} {unit}")
    lines.append(f"read_p50_ms              {e2e['read_p50_ms']:>14.4f} ms")
    lines.append(f"read_tail_ms             {e2e['read_tail_ms']:>14.4f} ms "
                 f"(p{e2e['read_tail_pct']:.1f} of {e2e['reads']} reads)")
    lines.append(f"  setup: session {res['session_s']:.2f} s + state {res['state_s']:.2f} s + warm-up "
                 f"{res['warm_s']:.2f} s")
    lines.append(f"peak_rss_mb              {res['peak_rss_mb']:>14.4f} MB (JVM + driver Python)")
    if writes["writes"]:
        for k in ("ingest.write_p50_ms", "ingest.write_tail_ms", "ingest.docs_per_s"):
            lines.append(f"{k:<24} {writes[k]:>14.4f} {PER_LAYER[k]}")
        lines.append(f"  write tail is p{writes['write_tail_pct']:.1f} of {writes['writes']} writes")
    for k, v in res["gauges"].items():
        lines.append(f"{k:<24} {v:>14.4f} {PER_LAYER[k]}")
    lines.append(f"failed_frac              {len(failed) / len(recs):>14.4f} ratio "
                 f"({len(failed)} of {len(recs)} ops)")
    for r in failed:
        lines.append(f"  FAILED {r['name']}: {', '.join(r['failed'])}")
    for w in ("start", "end"):
        h = res[f"host_{w}"]
        lines.append(f"host {w}: loadavg {h['loadavg_1m']:.2f}, job floor {h['job_floor_ms']:.1f} ms, "
                     f"numpy probe {h['numpy_probe_ms']:.1f} ms")
    shapes = {}
    for r in res["timed"]:
        shapes.setdefault(r["name"], []).append(r["ms"])
    for name, ms in sorted(shapes.items()):
        lines.append(f"  op {name:<24} n={len(ms):<3} median {median(ms):9.1f} ms")
    if args.trace:
        lay = dict(res["layers"])
        tr = end_to_end(res["traced"])
        lay.update({k: v for k, v in writes.items() if k in PER_LAYER})
        lay.update(res["gauges"])
        lay["oracle.failed_frac"] = len(failed) / len(recs)
        lay["memory.peak_rss_mb"] = res["peak_rss_mb"]
        lay["latency.read_p50_ms"] = e2e["read_p50_ms"]
        lay["latency.read_tail_ms"] = e2e["read_tail_ms"]
        lay["trace_overhead.read_p50_ms"] = e2e["read_p50_ms"] - tr["read_p50_ms"]
        lay["trace_overhead.read_tail_ms"] = e2e["read_tail_ms"] - tr["read_tail_ms"]
        lay["trace_overhead.ops_per_s"] = e2e["ops_per_s"] - tr["ops_per_s"]
        for w in ("start", "end"):
            for k, v in res[f"host_{w}"].items():
                lay[f"host.{k}_{w}"] = v
        metrics = {k: {"value": float(lay.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        for k, m in metrics.items():
            lines.append(f"{k:<40} {m['value']:>16.4f} {m['unit']}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for line in lines:
        print(line)
    return {"correct": not failed, "attempted": len(recs), "failed": len(failed), "metrics": metrics}


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(REPO, "duckdb_vss_spark")):
        print(f"perfbench: no duckdb_vss_spark package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_root = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_root)
    try:
        res = run(args, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass
    print(json.dumps(report(args, res)))
    return 0


if __name__ == "__main__":
    if __package__ in (None, ""):
        sys.path.insert(0, REPO)
        __package__ = "perfbench"
    sys.exit(main())
