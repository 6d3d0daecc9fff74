"""The repository benchmark: one workload, one process, one JSON result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``ingest`` runs ``Pipeline.run_all`` over
a generated raw drop; ``llm_dedup`` repeats a mix of near-duplicate and
tokenizer queries. Inputs are generated from ``--seed`` inside the
checkout (``gen.py``); nothing outside it is read.

A run starts a Spark session on ``local[<cores>]``, generates the inputs,
builds the workload's fixtures, runs an untimed warm-up (for ``llm_dedup``
the correctness pass), and then runs timed passes for about ``--seconds``:
``ceil(seconds / NOMINAL_PASS_S)`` of them, where ``NOMINAL_PASS_S`` is the
workload's warm pass time on a 4-core host. A fixed count, rather than
"until the clock runs out", keeps the number of passes, and so the warm-up
drift inside the medians, the same from run to run.

``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs at least the workload's ``TRACED_PASSES`` passes,
untraced and traced in turn (U T U ...), and reports the per-layer metrics,
including the tracing overhead.
Every line but the last is a human-readable report; the last line of stdout
is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import gen
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: every per-layer metric of the traced run, with its unit
LAYER_UNITS = {
    "plans.pipeline.validate_batch_s": "s",
    "plans.pipeline.transform_s": "s",
    "plans.pipeline.load_kv_s": "s",
    "plans.pipeline.validate_batch_jobs": "count",
    "plans.pipeline.transform_jobs": "count",
    "plans.pipeline.load_kv_jobs": "count",
    "plans.ledger.claim_s": "s",
    "plans.ledger.mark_s": "s",
    "sources.io.archive_s": "s",
    "plans.kvstore.items_written": "count",
    "plans.kvstore.items_per_s": "1/s",
    "plans.kvstore.db_bytes_per_item": "B",
    "plans.kv_datasource.scan_s": "s",
    "plans.kvstore.get_batch_s": "s",
    "sources.io.files_written_per_file": "ratio",
    "sources.io.bytes_written_per_input_byte": "ratio",
    "operators.validate.bad_rows_frac": "ratio",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "query.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.result_bytes": "B",
    "spark.input_bytes": "B",
    "spark.shuffle_bytes_per_input_byte": "ratio",
    "spark.parallel_eff": "ratio",
    "trace.overhead_s": "s",
    "trace.missing_spans": "count",
}


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "llm_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="bench", choices=sorted(gen.SCALES),
                    help="input size; 'tiny' is for the smoke test")
    return ap.parse_args()


def _host_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def configure_host(work: str) -> dict:
    """Process environment the engine needs, set before pyspark starts.

    - PYTHONPATH: Python workers must import the engine package
      (``kvstore.write_dataframe`` runs in ``foreachPartition``).
    - SPARK_DRIVER_MEMORY: the session default (48g) does not fit a small
      host; use Spark's own default of 1g, or a quarter of host memory if
      that is less.
    - SPARK_LOCAL_DIRS, TMPDIR and the JVMs' java.io.tmpdir: per-invocation
      directories, so shuffle files and the registry's fixture cache never
      outlive the run (a fixture built by one commit must not be served to
      another). JAVA_TOOL_OPTIONS reaches the spark-submit launcher JVM too;
      ``-XX:-UsePerfData`` stops both JVMs writing to /tmp/hsperfdata_*.
    """
    cores = len(os.sched_getaffinity(0))
    mem_mb = min(1024, _host_memory_mb() // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cores),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = None             # re-read TMPDIR
    return {**env, "cores": cores}


def other_jvms(own_pid: int) -> int:
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != own_pid:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                pass
    return n


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


class OpLog:
    """Latency of every op, and the op index the tracer tags spans with."""

    def __init__(self) -> None:
        self.ops: list[dict] = []
        self.tracer = None
        self.pass_no = -1

    @contextmanager
    def op(self, name: str):
        rec = {"name": name, "pass": self.pass_no, "ok": False, "discard": False}
        if self.tracer is not None:
            self.tracer.op = len(self.ops)
        span = self.tracer.open("op") if self.tracer is not None else nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                yield rec
            rec["ok"] = True
        finally:
            rec["seconds"] = time.perf_counter() - t0
            if not rec["discard"]:
                self.ops.append(rec)

    def error(self, name: str, exc: BaseException) -> None:
        print(f"# op {name} failed:", file=sys.stderr)
        traceback.print_exception(exc, file=sys.stderr)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, when that
    is above the median; the maximum when there are too few samples."""
    xs = sorted(values)
    k = len(xs) - 11
    if k < (len(xs) - 1) / 2:
        return xs[-1], "max"
    return xs[k], f"p{100 * (k + 1) / len(xs):.0f}"


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def measure(wl, log: OpLog, seconds: float, tracer) -> list[dict]:
    """The timed passes. With a tracer they alternate U T U ... (untraced /
    traced), at least ``wl.TRACED_PASSES`` of them. With three, linear
    drift from a session still warming up cancels in the tracing overhead;
    with two, the first (untraced) pass carries that drift and the overhead
    reads low by it."""
    passes: list[dict] = []
    count = math.ceil(seconds / wl.NOMINAL_PASS_S)
    if tracer is not None:
        count = max(wl.TRACED_PASSES, count)
    while len(passes) < count:
        traced = tracer is not None and len(passes) % 2 == 1
        state = wl.prepare()
        log.pass_no, log.tracer = len(passes), (tracer if traced else None)
        if traced:
            for owner, attr, name, on_result in wl.traced():
                tracer.wrap(owner, attr, name, on_result)
        first, ok = len(log.ops), True
        t0 = time.perf_counter()
        try:
            wl.run_pass(state, log, log.tracer)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted
            log.error("pass", e)
            ok = False
        wall = time.perf_counter() - t0
        if traced:
            tracer.unwrap_all()
            for sp in tracer.spans:
                if sp.name == "op" and first <= sp.op and "spark" not in sp.info:
                    sp.info["spark"] = tracer.counters.totals(sp.first_job, sp.last_job)
        log.tracer = None
        checks, facts = wl.verify(state, [s for s in tracer.spans if first <= s.op]
                                  if traced else None)
        passes.append({"wall": wall, "traced": traced, "ok": ok,
                       "ops": (first, len(log.ops)), "checks": checks, "facts": facts})
        wl.cleanup(state)
    return passes


def layer_metrics(tracer, log: OpLog, passes: list[dict], cores: int) -> dict:
    """Per-layer metrics, summed over the ops of each traced pass; the
    value reported is the median over traced passes."""
    rows = []
    for p in passes:
        if not p["traced"]:
            continue
        lo, hi = p["ops"]
        in_pass = [s for s in tracer.spans if lo <= s.op < hi]
        ops = log.ops[lo:hi]

        def secs(name):
            return sum(s.seconds for s in in_pass if s.name == name)

        def jobs(name):
            return sum(s.jobs for s in in_pass if s.name == name)

        spark = {}
        for s in in_pass:
            for k, v in s.info.get("spark", {}).items():
                spark[k] = spark.get(k, 0.0) + v
        validate = [s.info for s in in_pass if s.name == "plans.pipeline.validate_batch"]
        good = sum(i.get("good", 0) for i in validate)
        bad = sum(i.get("bad", 0) for i in validate)
        f = p["facts"]
        items, load_kv = f.get("items_written", 0), secs("plans.pipeline.load_kv")
        wall = sum(o["seconds"] for o in ops)
        m = {
            "plans.pipeline.validate_batch_s": secs("plans.pipeline.validate_batch"),
            "plans.pipeline.transform_s": secs("plans.pipeline.transform"),
            "plans.pipeline.load_kv_s": load_kv,
            "plans.pipeline.validate_batch_jobs": jobs("plans.pipeline.validate_batch"),
            "plans.pipeline.transform_jobs": jobs("plans.pipeline.transform"),
            "plans.pipeline.load_kv_jobs": jobs("plans.pipeline.load_kv"),
            "plans.ledger.claim_s": secs("plans.ledger.claim"),
            "plans.ledger.mark_s": secs("plans.ledger.mark"),
            "sources.io.archive_s": secs("sources.io.archive"),
            "plans.kvstore.items_written": items,
            "plans.kvstore.items_per_s": items / load_kv if load_kv else 0.0,
            "plans.kvstore.db_bytes_per_item": f["db_bytes"] / items if items else 0.0,
            "plans.kv_datasource.scan_s": f.get("kv_scan_s", 0.0),
            "plans.kvstore.get_batch_s": f.get("kv_get_batch_s", 0.0),
            "sources.io.files_written_per_file":
                f["files_written"] / f["input_files"] if f else 0.0,
            "sources.io.bytes_written_per_input_byte":
                f["bytes_written"] / f["input_bytes"] if f else 0.0,
            "operators.validate.bad_rows_frac": bad / (good + bad) if good + bad else 0.0,
            "query.build_s": secs("query.build"),
            "query.build_jobs": jobs("query.build"),
            "catalyst.analysis_ms": sum(s.info.get("analysis_ms", 0) for s in in_pass
                                        if s.name == "query.build"),
            "query.exec_s": secs("query.exec"),
        }
        for k in spans.SPARK_COUNTERS:
            m[f"spark.{k}"] = spark.get(k, 0.0)
        m["spark.shuffle_bytes_per_input_byte"] = (
            spark.get("shuffle_write_bytes", 0.0) / spark["input_bytes"]
            if spark.get("input_bytes") else 0.0)
        m["spark.parallel_eff"] = spark.get("task_s", 0.0) / (wall * cores) if wall else 0.0
        rows.append(m)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    walls = {t: statistics.median(p["wall"] for p in passes if p["traced"] is t)
             for t in (True, False)}
    out["trace.overhead_s"] = walls[True] - walls[False]
    out["trace.missing_spans"] = len(tracer.missing)
    return out


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str, host: dict) -> dict:
    # The engine and the modules below import pyspark: only after the
    # environment is set.
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import get_spark

    from workloads import WORKLOADS, Context

    load_before = os.getloadavg()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=host["cores"], extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        session_s = time.perf_counter() - t0

        workload = WORKLOADS[args.workload]
        t = time.perf_counter()
        inputs = gen.generate(os.path.join(work, "in"), args.seed,
                              gen.SCALES[args.scale], drop=workload.DROP)
        gen_s = time.perf_counter() - t
        wl = workload(Context(spark, inputs, work, args.seed, bool(args.trace)))

        t = time.perf_counter()
        checks = wl.setup()
        fixture_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = OpLog()
        checks += wl.check(warm)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + gen_s + fixture_s + warmup_s

        log = OpLog()
        tracer = spans.Tracer(spans.SparkCounters(spark)) if args.trace else None
        passes = measure(wl, log, args.seconds, tracer)
        peak_rss_mb = vm_hwm_mb(jvm_pid)

        checks += [c for p in passes for c in p["checks"]]
        # a pass that failed before its first op counts as one failed op
        empty = [p for p in passes if p["ops"][0] == p["ops"][1]]
        attempted = len(log.ops) + len(checks) + len(empty)
        failed = (sum(not o["ok"] for o in log.ops) + sum(not ok for _, ok, _ in checks)
                  + sum(not p["ok"] for p in empty))

        walls = [p["wall"] for p in passes if not p["traced"]]
        lat = [o["seconds"] for o in log.ops
               if o["ok"] and not passes[o["pass"]]["traced"]] or [0.0]
        pass_s = statistics.median(walls)
        tail_s, tail_pct = tail(lat)
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            # for llm_dedup: documents / pass_s, i.e. pass_s restated
            "rows_per_s": (wl.rows_per_pass / pass_s, "1/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

        print(f"# workload={args.workload} seed={args.seed} scale={args.scale} "
              f"seconds={args.seconds} trace={args.trace}")
        print(f"# host: cores={host['cores']} driver_memory={host['SPARK_DRIVER_MEMORY']} "
              f"load_before={load_before[0]:.2f} load_after={os.getloadavg()[0]:.2f} "
              f"other_jvms={other_jvms(jvm_pid)}")
        print(f"# setup: session={session_s:.3f}s gen={gen_s:.3f}s fixtures={fixture_s:.3f}s "
              f"warmup={warmup_s:.3f}s")
        q = quartiles(walls)
        print(f"# pass_s: median={q[1]:.4f} q1={q[0]:.4f} q3={q[2]:.4f} n={len(walls)}")
        print("#   passes: " + " ".join(f"{p['wall']:.3f}{'T' if p['traced'] else ''}"
                                      for p in passes))
        print("# ops: " + " ".join(f"{o['seconds']:.3f}" for o in log.ops))
        q = quartiles(lat)
        print(f"# op latency: median={q[1]:.4f} q1={q[0]:.4f} q3={q[2]:.4f} n={len(lat)} "
              f"tail={tail_pct}")
        for name in dict.fromkeys(o["name"] for o in log.ops):
            xs = [o["seconds"] for o in log.ops if o["name"] == name and o["ok"]]
            if xs:
                print(f"#   op {name}: median={statistics.median(xs):.4f}s n={len(xs)}")
        print(f"# failed_frac={failed / attempted:.4f} ({failed}/{attempted})")
        for name, ok, detail in checks:
            print(f"# check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
        for name, (v, unit) in e2e.items():
            print(f"# {name} = {v:.6g} {unit}")

        if args.trace:
            layers = layer_metrics(tracer, log, passes, host["cores"])
            if tracer.missing:
                print(f"# missing spans: {', '.join(tracer.missing)}")
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
            for k, v in metrics.items():
                print(f"# {k} = {v['value']:.6g} {v['unit']}")
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        shutdown(spark)


def main() -> int:
    args = _args()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        host = configure_host(work)
        sys.path.insert(0, ROOT)
        result = run(args, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))     # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
