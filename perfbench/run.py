"""marasa_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Workloads (closed loop, one client, Spark ``local[2]``):

* ``olap_mix``   — the 27 registry ids behind bench.py's headline labels;
* ``kv_log``     — a read/write mix against a fresh ``MarasaLog``;
* ``text_dedup`` — the dedup/similarity/text ops over documents/embeddings
  (runnable by hand; not one of BENCHMARK.json's gated workloads).

Every input comes from ``--seed``. Output is checked outside the clock.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics from spans recorded
around calls into the program's modules. The line before it is a report
with every metric this workload defines (including the ones only one
workload has, such as ``write_amp``) and the run's provenance.

Everything the run writes (tables, the store, Spark's local dirs, spans)
lives under ``.perfbench/`` in the checkout; the per-run part is removed
at exit and the spans of the last traced run per workload are kept.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from runner import percentile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Two task slots leave the other cores of a four-core box to the Python
# client, the JIT and GC threads: with four, Spark's tasks compete with
# them and a warm pass of olap_mix is slower.
CORES = min(2, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
SETUP_REPS = 3  # input generation + expected outputs, median reported
WORKLOADS = ("olap_mix", "kv_log", "text_dedup")
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smallest inputs (smoke test)")
    p.add_argument(
        "--break-check",
        action="store_true",
        help="corrupt one expected output, to prove mismatches are counted",
    )
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep Spark, the JVM and Python's temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the whole heap committed and touched up front: the JVM's resident
    # size then no longer depends on when its collector chose to grow
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(java_opts),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf",
            "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM's, in MB."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm)) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return ticks[7], sum(ticks)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def make_workload(name, spark, work, seed, tiny, break_check):
    if name == "kv_log":
        from kv import kv_log

        return kv_log(spark, work, seed, tiny, break_check)
    import registry_workloads as rw

    return getattr(rw, name)(spark, work, seed, tiny, break_check)


def _ms(xs):
    return {
        "p50": statistics.median(xs) * 1000.0 if xs else 0.0,
        "p90": percentile(xs, 90) * 1000.0 if xs else 0.0,
    }


def end_to_end(samples, setup_s, rss):
    lat = [s.latency for s in samples]
    ms = _ms(lat)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(samples) / sum(lat),
        "latency_p50_ms": ms["p50"],
        "latency_p90_ms": ms["p90"],
        "peak_rss_mb": rss,
    }


def per_layer(tracer, samples, layer_counts, get_spark_s):
    traced = [s for s in samples if s.traced]
    plain = [s for s in samples if not s.traced]
    n = max(1, len(traced))
    secs, calls = tracer.by_layer()
    out = {"session.get_spark_s": (get_spark_s, "s")}

    def ms(layer):
        return secs.get(layer, 0.0) * 1000.0 / n

    def per_req(layer):
        return calls.get(layer, 0) / n

    out["session.ensure_configs_calls"] = (per_req("session.ensure_configs"), "calls/req")
    out["session.ensure_configs_ms"] = (ms("session.ensure_configs"), "ms/req")
    out["catalog.load_table_calls"] = (per_req("catalog.load_table"), "calls/req")
    out["catalog.load_table_ms"] = (ms("catalog.load_table"), "ms/req")
    out["queries.build_ms"] = (ms("queries.build"), "ms/req")
    for op in ("dedup", "similarity", "text", "asof"):
        out[f"ops.{op}_ms"] = (ms(f"ops.{op}"), "ms/req")
    noop = sum(s.noop for s in traced) * 1000.0 / n
    arrow = ms("collect.arrow")
    out["exec.noop_ms"] = (noop, "ms/req")
    out["collect.arrow_ms"] = (arrow, "ms/req")
    out["collect.rows"] = (sum(s.rows for s in traced) / n, "rows/req")
    out["collect.bytes"] = (sum(s.nbytes for s in traced) / n, "bytes/req")
    out["collect.transfer_ms"] = (arrow - noop, "ms/req")
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"engine.{k}"] = (sum(s.engine.get(k, 0) for s in traced) / n, f"{k.split('_')[-1]}/req")
    from spans import LOG_METHODS

    for m in LOG_METHODS:
        out[f"log.{m}_ms"] = (ms(f"log.{m}"), "ms/req")
        out[f"log.{m}_calls"] = (per_req(f"log.{m}"), "calls/req")
    defaults = {
        "log.data_files": (0, "count"),
        "log.data_bytes": (0, "bytes"),
        "log.snapshot_bytes": (0, "bytes"),
        "log.files_per_write": (0.0, "files/write"),
        "log.txn_entries": (0, "count"),
        "log.tail_rows": (0.0, "rows/read"),
    }
    out.update({**defaults, **layer_counts})
    covered = tracer.top_level_seconds()
    unaccounted = [
        max(0.0, s.latency - covered.get(s.request_id, 0.0)) / s.latency
        for s in traced
        if s.latency > 0
    ]
    t50 = statistics.median([s.latency for s in traced]) if traced else 0.0
    u50 = statistics.median([s.latency for s in plain]) if plain else 0.0
    out["trace.overhead_ms"] = ((t50 - u50) * 1000.0, "ms")
    out["trace.unaccounted_share"] = (
        statistics.median(unaccounted) if unaccounted else 0.0,
        "ratio",
    )
    out["trace.requests"] = (len(traced), "count")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "marasa_spark", "log.py")):
        print(
            f"perfbench: no marasa_spark package next to {HERE}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    configure_env(work)
    spark = None
    try:
        import marasa_spark.queries._util as qutil
        from marasa_spark import session
        from runner import Runner

        qutil.SCRATCH = os.path.join(work, "scratch")  # file-writing ops stay inside
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_ready = time.perf_counter()
        get_spark_s = session_ready - t0

        wl = make_workload(args.workload, spark, work, args.seed, args.tiny, args.break_check)
        reps = []
        for _ in range(1 if args.tiny else SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare_inputs()
            reps.append(time.perf_counter() - t0)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
        runner = Runner(spark, tracer)
        t0 = time.perf_counter()
        wl.prepare_store()
        t1 = time.perf_counter()
        warm_failed = runner.warmup(wl)
        t2 = time.perf_counter()
        setup_parts = {
            "session_s": session_ready - T_START,
            "inputs_s": statistics.median(reps),
            "store_s": t1 - t0,
            "warmup_s": t2 - t1,
        }
        setup_s = sum(setup_parts.values())

        ticks0 = cpu_ticks()
        passes = runner.timed(args.seconds, bool(args.trace))
        ticks1 = cpu_ticks()
        samples = runner.samples
        failed = sum(not s.ok for s in samples)
        rss = peak_rss_mb(spark)
        plain = [s for s in samples if not s.traced]
        e2e = end_to_end(plain, setup_s, rss)
        report = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
        report["error_rate"] = (failed / len(samples), "ratio")
        reads = [s.latency for s in plain if s.kind == "read"]
        writes = [s.latency for s in plain if s.kind == "write"]
        if reads or writes:
            r, w = _ms(reads), _ms(writes)
            report["read_p50_ms"] = (r["p50"], "ms")
            report["read_p90_ms"] = (r["p90"], "ms")
            report["write_p50_ms"] = (w["p50"], "ms")
            report["write_p90_ms"] = (w["p90"], "ms")
        report.update(wl.extra_metrics(sum(s.latency for s in plain), len(plain)))
        layers = None
        if tracer is not None:
            layers = per_layer(tracer, samples, wl.layer_counts(), get_spark_s)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{args.workload}.jsonl"))
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "loop": "closed",
            "clients": 1,
            "spark_master": f"local[{CORES}]",
            "driver_memory": DRIVER_MEM,
            "ram_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            "passes": passes,
            "requests": len(samples),
            # share of all CPU time the hypervisor gave to other guests
            # during the loop: on a shared host, the runs with a high share
            # are the slow ones
            "host_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
            "warmup_failed": warm_failed,
            "setup_parts_s": setup_parts,
            "input_reps_s": reps,
            **wl.provenance(),
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(
        "# report "
        + json.dumps(
            {
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
                "provenance": provenance,
            }
        )
    )
    chosen = layers if layers is not None else report
    names = list(layers) if layers is not None else list(END_TO_END)
    attempted = len(samples)
    print(
        json.dumps(
            {
                "correct": failed == 0 and warm_failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": chosen[k][0], "unit": chosen[k][1]} for k in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
