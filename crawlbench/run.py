#!/usr/bin/env python3
"""Crawl + curate benchmark.

    python3 crawlbench/run.py --workload crawl_polite --seed 1 \
        --seconds 20 --trace 0

Workloads: crawl_polite, wide_curate (see crawlbench/LAYERS.md).
A run sets up once (``setup_s``: Spark session, inputs, first Python-UDF
call), then times whole passes of the workload until another pass of the
same length would overrun ``--seconds`` (at least one pass), checks every
pass's output against the reference semantics, and prints one JSON line
last: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. A traced run enables the Spark event log and samples
/proc. Scratch files live under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from crawlbench.trace import (  # noqa: E402
    CPU_KEYS, ProcTree, Sampler, Tracer, read_event_logs, rollup,
)

PHASES = ("session.start", "setup.inputs", "setup.warm_up", "setup", "timed",
          "checks", "probes", "teardown")
LAYER_SPANS = ("session.", "frontier.", "operators.", "sources.")

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "round_p50_s": "s",
    "cpu_s_per_kpage": "CPU-s/kpage",
    "state_bytes_per_page": "B/page",
}

ROUND_COUNTERS = ["jobs", "stages", "tasks", "spark_s", "driver_s",
                  "shuffle_write_bytes", "task_cpu_s", "task_run_s", "gc_s"]
OP_COUNTERS = {"wall_s": "s", "cpu_s": "s", "jobs": "count",
               "shuffle_write_bytes": "B", "spill_bytes": "B",
               "rows_in": "rows", "rows_out": "rows"}


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    return "B" if counter.endswith("bytes") else "count"


def per_layer_units() -> dict[str, str]:
    from webcrawl_spark.frontier.crawl import TABLES

    from crawlbench.workloads import OPERATORS

    u = {"session.start_s": "s",
         "frontier.round.wall_s.p50": "s", "frontier.round.wall_s.max": "s"}
    for c in ROUND_COUNTERS:
        u[f"frontier.round.{c}.p50"] = _unit(c)
        u[f"frontier.round.{c}.sum"] = _unit(c)
    u.update({"frontier.round.calls": "count",
              "frontier.round.distributed": "count",
              "frontier.round.fetched.sum": "pages",
              "frontier.round.new_urls.sum": "urls",
              "frontier.resume_s": "s",
              "bloom.shards": "count", "bloom.bits_per_shard": "bits",
              "bloom.fill_ratio": "ratio", "bloom.fp_rate": "ratio",
              "bloom.fp_rate_configured": "ratio",
              "bloom.add_mkeys_per_s": "Mkeys/s",
              "bloom.probe_mkeys_per_s": "Mkeys/s",
              "kernels.extract.pages_per_s": "pages/s",
              "kernels.extract.mb_per_s": "MB/s"})
    for op in OPERATORS:
        for c, unit in OP_COUNTERS.items():
            u[f"operators.{op}.{c}"] = unit
    u.update({"warc.wall_s": "s", "warc.mb_per_s": "MB/s"})
    for table in TABLES:
        u[f"tableio.{table}.bytes"] = "B"
        u[f"tableio.{table}.files"] = "count"
    u["tableio.state_files"] = "count"
    for k in ("jit", "gc", "task", "other"):
        u[f"proc.jvm.{k}_cpu_s"] = "s"
    u.update({"proc.pyworker_cpu_s": "s", "proc.driver_py_cpu_s": "s",
              "mem.peak_rss_mb": "MB",
              "trace.timed_wall_s": "s", "trace.sampler_cpu_s": "s",
              "trace.span_sample_s": "s"})
    return u


def _prepare_env(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside ``work``."""
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM, the spark-submit launcher included, would otherwise write
    # an hsperfdata file under /tmp whatever its java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _start_spark(work: str, nproc: int, traced: bool):
    from webcrawl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.sql.shuffle.partitions": str(max(8, nproc)),
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        })
    spark = get_spark("crawlbench", master=f"local[{nproc}]",
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "webcrawl_spark", "__init__.py")):
        print(f"crawlbench: no webcrawl_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    from crawlbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    tracer = Tracer(traced, ProcTree())
    sampler = Sampler(tracer.tree) if traced else None
    if sampler:
        sampler.start()
    wl = WORKLOADS[args.workload](args.seed, nproc, tracer)
    attempted = failed = 0
    checks: list[tuple[str, bool, str]] = []
    passes = []
    probed: dict = {}
    cpu: dict[str, float] = {}
    timed_wall = 0.0
    spark = setup = None
    try:
        with tracer.span("setup") as setup:
            with tracer.span("session.start"):
                spark = _start_spark(work, nproc, traced)
            tracer.sc = spark.sparkContext
            with tracer.span("setup.inputs"):
                wl.build_inputs(spark, os.path.join(work, "input"))
            with tracer.span("setup.warm_up"):
                wl.warm_up()

        cpu0 = tracer.tree.sample(threads=traced)
        with tracer.span("timed") as timed:
            while True:
                p = wl.run_pass(os.path.join(work, f"pass{len(passes)}"))
                passes.append(p)
                if args.seconds - (time.time() - timed.start) < p.wall_s:
                    break
        cpu1 = tracer.tree.sample(threads=traced)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        timed_wall = timed.wall

        with tracer.span("checks"):
            for p in passes:
                for name, ok, detail in wl.check(p):
                    checks.append((name, ok, detail))
                    attempted += 1
                    failed += not ok
        if traced:
            with tracer.span("probes"):
                probed = wl.probe(passes[-1])
    except Exception:
        failed += 1
        traceback.print_exc()
    finally:
        with tracer.span("teardown"):
            tracer.sc = None
            if spark is not None:
                _stop_spark(spark)
            if sampler:
                sampler.stop()
    # every call into a layer counts as one attempted operation
    attempted += sum(s.name.startswith(LAYER_SPANS) for s in tracer.spans)

    pages = sum(p.pages for p in passes)
    e2e = {
        "setup_s": setup.wall if setup else 0.0,
        "pages_per_s": _median([p.pages / p.wall_s for p in passes]),
        "round_p50_s": _median([w for p in passes for w in p.round_walls]),
        "cpu_s_per_kpage": (cpu.get("total", 0.0) * 1000 / pages
                            if pages else 0.0),
        "state_bytes_per_page": _median(
            [p.state_bytes / p.pages for p in passes if p.pages]),
    }
    print(json.dumps({"workload": wl.name, "seed": args.seed, "nproc": nproc,
                      "traced": traced, "passes": len(passes),
                      "phases_s": {s.name: round(s.wall, 2) for s in
                                   tracer.spans if s.name in PHASES},
                      "inputs": wl.describe() if passes else {}}))
    for name, ok, detail in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    print(f"failed_share {failed / max(attempted, 1):.4f} "
          f"({failed}/{attempted})")
    print("end_to_end " + json.dumps({k: round(v, 4) for k, v in e2e.items()}))

    if traced:
        layer = dict(probed.get("layer", {}))
        per = rollup(tracer, read_event_logs(os.path.join(work, "events")))
        layer.update(_layer_metrics(tracer, per, cpu, probed, sampler,
                                    timed_wall))
        tracer.write(os.path.join(work, "spans.json"), per)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    _cleanup(work, keep=traced)
    print(json.dumps({"correct": bool(passes) and failed == 0,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0


def _layer_metrics(tracer, per, cpu, probed, sampler, timed_wall):
    """Per-layer numbers from the spans, their event-log rollup ``per`` and
    /proc; prints the per-span, per-round and per-operator tables."""
    from crawlbench.workloads import OPERATORS

    print(f"{'span':36s}    n   wall_s  spark_s   self_s")
    for name in dict.fromkeys(s.name for s in tracer.spans):
        ids = [s.id for s in tracer.named(name)]
        print(f"{name:36s} {len(ids):4d} "
              + "".join(f"{sum(per[i][c] for i in ids):9.2f}"
                        for c in ("wall_s", "spark_s", "self_s")))
    out: dict[str, float] = {}
    starts = tracer.named("session.start")
    out["session.start_s"] = starts[0].wall if starts else 0.0

    rounds = tracer.named("frontier.round")
    if rounds:
        walls = [r.wall for r in rounds]
        out["frontier.round.wall_s.p50"] = statistics.median(walls)
        out["frontier.round.wall_s.max"] = max(walls)
        out["frontier.round.calls"] = len(rounds)
        for c in ROUND_COUNTERS:
            vals = [per[r.id][c] for r in rounds]
            out[f"frontier.round.{c}.p50"] = statistics.median(vals)
            out[f"frontier.round.{c}.sum"] = sum(vals)
        out["frontier.resume_s"] = _median(
            [r.wall for r in tracer.named("frontier.resume")])
        print("round call  wall_s  jobs  stages  tasks  spark_s  driver_s  "
              "shuffle_w_B  task_cpu_s  gc_s")
        for r in rounds:
            m = per[r.id]
            print(f"{r.attrs['call']:10d}  {m['wall_s']:6.2f}  {m['jobs']:4d}"
                  f"  {m['stages']:6d}  {m['tasks']:5d}  {m['spark_s']:7.2f}"
                  f"  {m['driver_s']:8.2f}  {m['shuffle_write_bytes']:11d}"
                  f"  {m['task_cpu_s']:10.2f}  {m['gc_s']:4.2f}")

    rows = probed.get("rows", {})
    prev = "crawl"
    for op in OPERATORS:
        spans = tracer.named(f"operators.{op}")
        if not spans:
            continue
        s, m = spans[-1], per[spans[-1].id]
        k = f"operators.{op}"
        out.update({f"{k}.wall_s": s.wall, f"{k}.cpu_s": s.cpu(),
                    f"{k}.jobs": m["jobs"],
                    f"{k}.shuffle_write_bytes": m["shuffle_write_bytes"],
                    f"{k}.spill_bytes": m["spill_bytes"],
                    f"{k}.rows_in": rows.get(prev, 0),
                    f"{k}.rows_out": rows.get(op, 0)})
        prev = op
        if op == OPERATORS[0]:
            print("operator                     wall_s  cpu_s  jobs  "
                  "shuffle_w_B  rows_in  rows_out")
        print(f"{op:27s}  {s.wall:6.2f}  {s.cpu():5.2f}  {m['jobs']:4d}  "
              f"{m['shuffle_write_bytes']:11d}  {out[k + '.rows_in']:7d}  "
              f"{out[k + '.rows_out']:8d}")
    for k in CPU_KEYS:
        name = {"driver_py": "proc.driver_py_cpu_s",
                "pyworker": "proc.pyworker_cpu_s"}.get(k, f"proc.{k}_cpu_s")
        out[name] = cpu.get(k, 0.0)
    out["mem.peak_rss_mb"] = tracer.tree.peak_rss_mb
    out["trace.timed_wall_s"] = timed_wall
    out["trace.sampler_cpu_s"] = sampler.cpu_s
    out["trace.span_sample_s"] = tracer.sample_s
    return out


def _cleanup(work: str, keep: bool) -> None:
    """Drop the run's scratch; a traced run keeps its spans and event log."""
    if not keep:
        shutil.rmtree(work, ignore_errors=True)
        return
    for entry in os.listdir(work):
        if entry not in ("spans.json", "events"):
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
