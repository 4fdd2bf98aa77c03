"""Repo benchmark entry point.

    python3 perfbench/run.py --workload rag --seed 1 --seconds 12 --trace 0

Runs one workload in one process on ``local[<cores>]``, from the root of a
checkout.  ``--trace 0`` prints every end-to-end metric; ``--trace 1``
runs the same workload with a span around each call into a layer and
prints the per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a JSON report with the session settings, the generated inputs' measured
properties and the workload's own figures.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import FIELDS, NullTracer, SparkTracer  # noqa: E402
from workloads import PKG, WORKLOADS, Ctx  # noqa: E402

# The spans of every workload.  Each traced run reports all of them (zero
# for spans its workload does not open) so that every per-layer metric is
# present in every run.
SPANS = (
    # rag
    "pipeline.chunk_documents",
    "functions.embed.hash_embedder",
    "pipeline.ingest_documents.build",
    "pipeline.ingest_documents.exec",
    "pipeline.status_listing",
    "functions.embed.hash_embed_py",
    "operators.knn.knn.build",
    "operators.knn.knn.exec",
    "pipeline.serve_projection",
    # ann_batch
    "operators.quant.IVFPQIndex",
    "operators.quant.IVFPQIndex.search_many",
    "operators.quant.PQCodebook.refine",
    "operators.knn.knn_join",
    # curation, in traced rag runs
    "operators.dedup.curate_corpus_v2.build",
    "operators.dedup.curate_corpus_v2.exec",
    "textstats.gopher_quality_flags",
    "textstats.surprisal_tercile_buckets",
    "dedup.exact_dedup",
    "dedup.strip_dup_ngrams",
    "dedup.jaccard_pairs",
    "dedup.connected_components",
    "selection.dsir_select",
)
# Figures derived from the spans, with their units.
DERIVED = {
    "text.chunks_per_page": "ratio",
    "knn.build_share": "ratio",
    "knn.rows_scanned_per_hit": "ratio",
    "quant.candidates_per_hit": "ratio",
    "curation.docs_per_s": "1/s",
}
END_TO_END = {
    "setup_s": "s",
    "success_share": "ratio",
    "peak_rss_mb": "MB",
    "query_cpu_ms": "ms",
    "recall": "ratio",
}
# The speed probe's time (stats.speed_probe) on the reference host: CPU
# metrics are reported as if the host ran at this speed.
REF_PROBE_MS = 15.0
# Figures with no bound: every run prints them in its report line, and a
# traced run reports them as per-layer metrics.  Wall-clock figures move
# with the other tenants' load on a shared host, and the write phase is a
# single call whose scaled CPU still spread 0.08-0.24 over five to ten
# seeds (README.md, "Why CPU time").
UNBOUNDED = {
    "write_cpu_ms_per_row": "ms",
    "write_rows_per_s": "1/s",
    "query_p50_ms": "ms",
    "query_p75_ms": "ms",
}


def per_layer_units() -> dict:
    """Name -> unit of every per-layer metric, in report order."""
    units = {"wall_s": "s", "jobs": "count", "tasks": "count", "busy_s": "s", "shuffle_bytes": "B"}
    out = {f"{s}.{f}": units[f] for s in SPANS for f in FIELDS}
    out.update(DERIVED)
    out.update({f"traced.{k}": u for k, u in (END_TO_END | UNBOUNDED).items()})
    out["trace.overhead_s"] = "s"
    return out


def session_settings(tmp: str) -> dict:
    """Size the session for the host it runs on."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    # A quarter of RAM, capped at 2 GiB: the largest workload input is
    # ~30 MB, and the host is shared.
    driver_mb = max(512, min(2048, mem_kb // 1024 // 4))
    return {
        "cpus": cpus,
        "host_mem_mb": mem_kb // 1024,
        "driver_memory": f"{driver_mb}m",
        "young_gen": f"{driver_mb // 4}m",
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
    }


def start_spark(settings: dict):
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = settings["SPARK_LOCAL_DIRS"]
    os.environ["TMPDIR"] = settings["TMPDIR"]
    # Python workers import the package by name.
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = settings["PYTHONPATH"] + (os.pathsep + prev if prev else "")
    from importlib import import_module

    get_spark = import_module(PKG).get_spark
    tmp = os.path.dirname(settings["TMPDIR"])
    return get_spark(
        app_name="perfbench",
        cpus=settings["cpus"],
        driver_memory=settings["driver_memory"],
        extra_conf={
            # A fixed-size heap with a fixed young generation: the JVM's
            # adaptive sizing otherwise makes peak RSS vary by ~30% run to
            # run for the same work.
            "spark.driver.extraJavaOptions": (
                f"-Xms{settings['driver_memory']} -Xmn{settings['young_gen']}"
                f" -Djava.io.tmpdir={settings['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.local.dir": settings["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver JVM plus this Python process, in MB."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def at_ref_speed(cpu: float, probe_ms: list) -> float:
    """CPU time ``cpu`` scaled to a host whose speed probe takes
    ``REF_PROBE_MS``: CPU time on a shared VM moves with the physical
    host's load, and the probes taken beside the work measure by how much.
    The mean, not the median: one probe lands on one CPU, and the CPUs of
    the VM run at different speeds at once."""
    return cpu * REF_PROBE_MS / (sum(probe_ms) / len(probe_ms))


def end_to_end(res: dict, setup_s: float, success: float, rss: float) -> dict:
    q = res["query_cpu_ms"]
    return {
        "setup_s": setup_s,
        "success_share": success,
        "peak_rss_mb": rss,
        "query_cpu_ms": at_ref_speed(sum(q) / len(q), res["probe_ms"]),
        "recall": res["recall"],
    }


def unbounded(res: dict) -> dict:
    q = res["query_ms"]
    write = at_ref_speed(res["write_cpu_s"], res["write_probe_ms"])
    return {
        "write_cpu_ms_per_row": 1000 * write / res["write_rows"],
        "write_rows_per_s": res["write_rows"] / res["write_s"],
        "query_p50_ms": stats.percentile(q, 50),
        "query_p75_ms": stats.percentile(q, 75),
    }


def layer_metrics(tracer, ratios: dict, e2e: dict) -> dict:
    totals = tracer.totals()
    vals = {}
    for s in SPANS:
        for f in FIELDS:
            vals[f"{s}.{f}"] = totals.get(s, {}).get(f, 0)
    b = totals.get("operators.knn.knn.build", {}).get("wall_s", 0.0)
    x = totals.get("operators.knn.knn.exec", {}).get("wall_s", 0.0)
    ratios = dict(ratios)
    if b + x > 0:
        ratios["knn.build_share"] = b / (b + x)
    for r in DERIVED:
        vals[r] = ratios.get(r, 0)
    for k, v in e2e.items():
        vals[f"traced.{k}"] = v
    vals["trace.overhead_s"] = tracer.overhead_s
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        __import__(PKG)
    except ImportError as e:
        print(f"perfbench: cannot import the package under test ({e})", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    settings = session_settings(tmp)
    setup_fn, run_fn = WORKLOADS[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(settings)
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        timed = {}

        def on_timed_end():
            timed["rss_mb"] = peak_rss_mb(jvm_pid)
            timed["ticks_end"] = cpu_ticks()

        ctx = Ctx(spark, args.seed, args.seconds, tmp, NullTracer(), on_timed_end)
        setup_fn(ctx)
        setup_s = time.perf_counter() - t0
        if args.trace:
            ctx.tracer = SparkTracer(spark)
        t_run = time.perf_counter()
        ticks = cpu_ticks()
        res = run_fn(ctx)
        run_s = time.perf_counter() - t_run
        out = ctx.out
        e2e = end_to_end(res, setup_s, out.success_share, timed["rss_mb"])
        more = unbounded(res)
        steal, total = (e - s for e, s in zip(timed["ticks_end"], ticks))
        metrics = (
            layer_metrics(ctx.tracer, ctx.report.pop("ratios", {}), e2e | more)
            if args.trace
            else e2e
        )
        units = per_layer_units() if args.trace else END_TO_END
        n = len(res["query_ms"])
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "settings": settings,
            "session_start_s": session_s,
            "warmup_s": setup_s - session_s,
            "run_s": run_s,
            # Share of host CPU time taken by the hypervisor during the
            # timed region: latency here rises sharply with it.
            "timed_steal_share": steal / max(total, 1),
            "query_samples": n,
            "query_tail_percentile_rule": stats.tail_percentile(n),
            "unbounded": more,
            "write_cpu_s": res["write_cpu_s"],
            "query_cpu_ms": res["query_cpu_ms"],
            "write_probe_ms": res["write_probe_ms"],
            "probe_ms": res["probe_ms"],
            "query_ms": res["query_ms"],
            "errors": out.errors[:10],
            **ctx.report,
        }
        if args.trace:
            report["spans"] = ctx.tracer.totals()
        print(json.dumps(report, default=float), flush=True)
        print(
            json.dumps(
                {
                    "correct": out.failed == 0,
                    "attempted": out.attempted,
                    "failed": out.failed,
                    "metrics": {
                        k: {"value": metrics[k], "unit": units[k]} for k in units
                    },
                },
                default=float,
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
