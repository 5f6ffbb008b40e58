"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 25 --trace 0

Run it from the repository root. ``--trace 0`` measures the workload and
prints the end-to-end metrics; ``--trace 1`` runs it with the event
log, job groups and Catalyst listener on and prints the per-layer
metrics. The last stdout line is always the result object; a run that
cannot start (for instance without the engine package next to this
directory) exits non-zero and prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GEN_REPEATS = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    METRIC_UNITS = {
        kind: {m["name"]: m["unit"] for m in metrics}
        for kind, metrics in json.load(_f).items()
        if kind in ("end_to_end", "per_layer")
    }


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark and its Python workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        from perfbench.trace import eventlog_conf

        os.makedirs(os.path.join(work, "eventlog"))
        submit += eventlog_conf(os.path.join(work, "eventlog"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        # session.get_spark: only the shuffle width should scale with the
        # executor count; one state-store partition per core keeps the
        # alert drain from paying 32 Python-worker round trips per batch
        "SPARK_SHUFFLE_PARTITIONS": str(_cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def sequence_median(wl, ops: list[dict], key: str) -> float:
    """Median over warm op sequences of one sequence's summed ``key``."""
    from perfbench.trace import median

    totals: dict[int, float] = {}
    for o in ops:
        if o["seq"] >= wl.warm_from:
            totals[o["seq"]] = totals.get(o["seq"], 0.0) + o[key]
    return median(list(totals.values()))


def first_sequence(ops: list[dict], key: str) -> float:
    """Summed ``key`` of the cold first sequence: one cold op alone is too
    short to read steadily."""
    return sum(o[key] for o in ops if o["seq"] == ops[0]["seq"])


def end_to_end(wl, ops: list[dict], setup_s: float) -> dict[str, float]:
    """CPU seconds, not wall time, for everything but set-up: on a host
    whose hypervisor steals CPU, wall time moved 30-40% between runs of
    the same code while CPU time moved 10%. ``ops`` are the ops that
    succeeded."""
    from perfbench.trace import median

    warm = [o for o in ops if o["seq"] >= wl.warm_from]
    cpu = [o["cpu_s"] for o in warm]
    return {
        "setup_s": setup_s,
        "seq_cpu_s": sequence_median(wl, ops, "cpu_s"),
        "op_cpu_p50_s": median(cpu),
        "first_seq_cpu_s": first_sequence(ops, "cpu_s"),
        "rows_per_cpu_s": sum(o["input_rows"] for o in warm) / sum(cpu),
    }


def per_layer(wl, tracer, ops, ok, folded, phases) -> dict[str, float]:
    """Per-layer metrics per op sequence over the sequences counted as
    warm; cache growth and failures over the whole run; wall times of
    the successful ops."""
    from perfbench.trace import median

    counted = {o["group"] for o in ops if o["seq"] >= wl.warm_from}
    n = max(1, len({o["seq"] for o in ops if o["seq"] >= wl.warm_from}))

    # job groups are "<op group>.<phase>", phase one of build/run/ingest/alerts
    mine = {g: v for g, v in folded.items() if g.rsplit(".", 1)[0] in counted}

    def total(key: str, phase: str = "") -> float:
        return sum(v.get(key, 0.0) for g, v in mine.items() if g.endswith(phase))

    warm_ops = [o for o in ops if o["group"] in counted]
    op_wall = sum(o["wall_s"] for o in warm_ops)
    busy_s = total("job_busy_ms") / 1000
    run_s = total("run_ms") / 1000
    streams = [o["stream"] for o in warm_ops if "stream" in o]
    writes = [o["write"] for o in warm_ops if "write" in o]
    persisted = [s for s in tracer.spans if "persisted_before" in s]
    posted = wl.posted.value if hasattr(wl, "posted") else 0
    m = {
        "plans.build_s": sum(o.get("build_s", 0.0) for o in warm_ops) / n,
        "plans.build_jobs": total("jobs", ".build") / n,
        "catalyst.analysis_ms": phases.get("analysis", 0.0) / n,
        "catalyst.optimization_ms": phases.get("optimization", 0.0) / n,
        "catalyst.planning_ms": phases.get("planning", 0.0) / n,
        "spark.jobs": total("jobs") / n,
        "spark.stages": total("stages") / n,
        "spark.tasks": total("tasks") / n,
        "spark.job_busy_s": busy_s / n,
        "driver.gap_s": (op_wall - busy_s) / n,
        "exec.run_s": run_s / n,
        "exec.cpu_s": total("cpu_ns") / 1e9 / n,
        "exec.gc_s": total("gc_ms") / 1000 / n,
        "exec.core_util": run_s / (op_wall * _cores()) if op_wall else 0.0,
        "shuffle.write_bytes": total("shuffle_write_bytes") / n,
        "shuffle.read_bytes": total("shuffle_read_bytes") / n,
        "spill.bytes": total("spill_bytes") / n,
        "scan.bytes_read": total("input_bytes") / n,
        "write.bytes": (writes[-1][0] if writes else 0) / n,
        "write.files": (writes[-1][1] if writes else 0) / n,
        "python.udf_s": total("python_ms") / 1000 / n,
        "sink.post_calls": (wl.posts.value if hasattr(wl, "posts") else 0) / n,
        "sink.post_s": (wl.post_s.value if hasattr(wl, "post_s") else 0.0) / n,
        "sink.acked_frac": wl.acked.value / posted if posted else 0.0,
        "stream.batches": sum(s["batches"] for s in streams) / n,
        "stream.input_rows": sum(s["input_rows"] for s in streams) / n,
        "stream.trigger_ms": sum(s["trigger_ms"] for s in streams) / n,
        "stream.overhead_s": sum(s["drain_s"] - s["trigger_ms"] / 1000 for s in streams) / n,
        "stream.state_rows": streams[-1]["state_rows"] if streams else 0,
        "stream.state_bytes": streams[-1]["state_bytes"] if streams else 0,
        "cache.persisted_rdds": (persisted[-1]["persisted_after"] - persisted[0]["persisted_before"]) if persisted else 0,
        "cache.storage_bytes": persisted[-1]["storage_after"] if persisted else 0,
        "wall.seq_s": sequence_median(wl, ok, "wall_s"),
        "wall.op_p50_s": median([o["wall_s"] for o in ok if o["seq"] >= wl.warm_from]),
        "wall.first_seq_s": first_sequence(ok, "wall_s"),
        "wall.rows_per_s": sum(o["input_rows"] for o in ok if o["seq"] >= wl.warm_from)
        / sum(o["wall_s"] for o in ok if o["seq"] >= wl.warm_from),
        "trace.hook_s": tracer.hook_s / n,
    }
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _environment(work, bool(args.trace))
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.session import (
            get_spark,
        )
        from perfbench.trace import Tracer, median

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        gen_s = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
        setup_s = session_s + median(gen_s)

        ops: list[dict] = []
        t0 = time.perf_counter()
        k = 0
        cold_phases: dict[str, float] = {}
        while k < wl.min_seqs or time.perf_counter() - t0 < args.seconds:
            ops += wl.sequence(k)
            k += 1
            if k == wl.warm_from and tracer.phases:
                tracer.flush_listeners()
                cold_phases = dict(tracer.phases.ms)
        tracer.flush_listeners()
        phases = {p: v - cold_phases.get(p, 0.0) for p, v in (tracer.phases.ms if tracer.phases else {}).items()}
        problems = wl.check(ops)
        for s in tracer.spans:
            print(f"span {s['group'] or s['name']}: {s['wall_s']:.3f} s", file=sys.stderr)
        for o in ops:
            print(f"op {o['group']}: {o['wall_s']:.3f} s wall, {o['cpu_s']:.3f} s cpu", file=sys.stderr)
        for p in problems:
            print(f"FAILED {p}", file=sys.stderr)
        ok = [o for o in ops if not o["error"]]
        attempted, failed = len(ops), len(ops) - len(ok)
        warm_ok = any(o["seq"] >= wl.warm_from for o in ok)
        if args.trace and warm_ok:
            tracer.write_spans(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-s{args.seed}.json"))
            _stop(spark)
            spark = None
            from perfbench.trace import fold_event_log, read_event_log

            folded = fold_event_log(read_event_log(os.path.join(work, "eventlog")), tracer.group_to_op)
            values = per_layer(wl, tracer, ops, ok, folded, phases)
            values["ops.failed_frac"] = failed / attempted
        elif warm_ok:
            values = end_to_end(wl, ok, setup_s)
        else:
            values = {}
        units = METRIC_UNITS["per_layer" if args.trace else "end_to_end"]
        if values and set(values) != set(units):
            raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")
        result = {
            "correct": not problems and bool(values),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
        if spark is not None:
            _stop(spark)
            spark = None
        print(json.dumps(result))
        return 0
    except Exception:  # noqa: BLE001 — the harness itself broke: report, print no result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
