#!/usr/bin/env python3
"""Core-count scale probe (VERDICT r13 item 8): measured evidence that
the hot query paths PARALLELIZE, complementing the plan pins.

The driver bench cannot show this: its sf0.1 testdata is single-file,
single-row-group parquet, so every scan is one task and the 8-vs-32
core ratios come out ~1 (BENCH_r13 scaling block) — and at raw sf0.1
volume each entry is 1-3 s, where query-start/scheduler fixed cost
swamps any parallel speedup (a first cut of this probe at plain sf0.1
measured geomean 0.83, i.e. 32 cores LOSING to 4 on fixed cost). So
the probe (1) grows the corpus K× with scale_smoke's near-dup
perturbation (realistic dup structure, ids disjoint), (2) rewrites
every table into MULTI-row-group parquet under /tmp (row groups are
parquet's split unit, so scans split naturally — the production
layout, where `_fan_scan` is a no-op), then (3) times a handful of
heavy entries at two core counts in separate Spark sessions and
reports the wall ratio per entry. Compute-bound entries should show
ratio >> 1; per-round fixed-cost entries (iterative graph kernels)
are expected near 1 and are deliberately not probed.

Usage: python scripts/scale_probe.py [low_cores high_cores [K]]
       (defaults 4 32 8; medians of 3 after one warmup run)
Writes the rewritten tables to /tmp/scale_probe_data (wiped first) and
prints one JSON line per entry plus a JSON summary line. Commit the
output to plans/<round>/scale_probe.txt as the round's scale artifact.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = os.environ.get("SCALE_PROBE_BASE", "/root/testdata/sf0.1")
DATA = "/tmp/scale_probe_data"
#: throughput-bound entries whose docstrings claim the work spreads
#: across scan/shuffle tasks — no iterative fixed-cost kernels, and no
#: operator that needs its scale knob re-matched to corpus growth
#: (dd05 at K× needs +log2(K) hyperplane bits to hold bucket occupancy
#: flat — scale_smoke's occupancy-matched schedule owns that axis; a
#: first cut of this probe included plain dd05 at K=8 and its 64×
#: per-bucket candidate fold dominated the whole run)
ENTRIES = [
    "dd02_minhash_lsh_pairs",
    "cp01_corpus_curation_pipeline",
    "dd14_duplicate_spans",
    "nn05_ivfpq",
    "cs01_source_overlap",
]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
#: row groups per table — enough split units for 32 cores to fan
N_GROUPS = 64


def rewrite_multigroup(k: int) -> None:
    """KX-perturbed documents/embeddings (scale_smoke's builder) plus
    the base dimension tables, all rewritten as multi-row-group
    parquet so scans split without `_fan_scan`."""
    import pyarrow.parquet as pq

    from scale_smoke import build_scaled  # noqa: E402 (same directory)
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.session import (  # noqa: E501
        get_spark,
    )

    kx_dir = "/tmp/scale_probe_kx"
    shutil.rmtree(kx_dir, ignore_errors=True)
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(DATA)
    spark = get_spark(app_name="scale_probe_build")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, k, kx_dir)
    spark.stop()
    for t in TABLES:
        src = os.path.join(kx_dir, f"{t}.parquet")
        if not os.path.exists(src):
            src = os.path.join(BASE, f"{t}.parquet")
        tbl = pq.read_table(src)
        rg = max(1, len(tbl) // N_GROUPS)
        pq.write_table(tbl, os.path.join(DATA, f"{t}.parquet"), row_group_size=rg)
    shutil.rmtree(kx_dir, ignore_errors=True)


def child(cores: int, n_runs: int) -> None:
    """Time every probe entry in one Spark session at `cores`."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (  # noqa: E501
        REGISTRY,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.session import (  # noqa: E501
        get_spark,
    )

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = get_spark(app_name=f"scale_probe_c{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    # Scans split at row-group boundaries but only into pieces of
    # maxPartitionBytes: the K× test corpus is a few MB compressed, so
    # the default 128 MB split packs ALL row groups into ONE task (a
    # first cut of this probe measured geomean 1.11 because of it).
    # Scale the split size down to the corpus so task count mirrors
    # production proportions (~data/split tasks, here ~16-64 per scan).
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(16 * 1024))
    out = {}
    for name in ENTRIES:
        fn = REGISTRY[name].fn
        try:
            fn(spark, DATA).count()  # warmup: analysis + codegen + fits
        except Exception as e:  # noqa: BLE001
            print(f"WARNING: warmup failed for {name}, skipped: {e!r}",
                  file=sys.stderr)
            continue
        samples = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, DATA).count()
            samples.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(samples), 3)
    print("CHILD_RESULT " + json.dumps({"cores": cores, "timings": out}))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]))
        return
    low = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    high = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_runs = int(os.environ.get("SCALE_PROBE_RUNS", "3"))
    rewrite_multigroup(k)
    results = {}
    for cores in (high, low):
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child",
                 str(cores), str(n_runs)],
                capture_output=True, text=True, check=True,
            )
        except subprocess.CalledProcessError as e:
            print(e.stderr, file=sys.stderr)
            raise
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("CHILD_RESULT ")][-1]
        results[cores] = json.loads(line[len("CHILD_RESULT "):])["timings"]
    for name in ENTRIES:
        tl, th = results[low].get(name), results[high].get(name)
        ratio = round(tl / th, 2) if tl is not None and th else None
        print(json.dumps({
            "entry": name, f"sec_c{low}": tl, f"sec_c{high}": th,
            "speedup": ratio,
        }))
    ratios = [results[low][n] / results[high][n]
              for n in ENTRIES
              if results[low].get(n) is not None and results[high].get(n)]
    gm = round(
        float(pow(2.718281828, sum(__import__("math").log(r) for r in ratios)
                  / len(ratios))), 2) if ratios else None
    print(json.dumps({
        "metric": "scale_probe_core_speedup_geomean",
        "low_cores": low, "high_cores": high, "k": k,
        "n_entries": len(ratios), "geomean_speedup": gm,
        "n_row_groups": N_GROUPS, "base": BASE,
    }))


if __name__ == "__main__":
    main()
