"""Split an entry's bench cost into driver-side build/analysis vs
execution (the ud2 lesson, guide §1): time `REGISTRY[n].fn(...)`
(Python construction + Catalyst analysis, both driver-side) separately
from the subsequent `.count()` (optimization + physical planning +
execution). Same warmup methodology as bench_probe.py.

Usage: python scripts/split_probe.py entry1,entry2[,...] [n_runs]
Env: PROBE_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (  # noqa: E402
    REGISTRY,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.session import (  # noqa: E402
    get_spark,
)


def main() -> None:
    names = [n for n in sys.argv[1].split(",") if n]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("PROBE_SF_DIR", "/root/testdata/sf0.1")
    unknown = [n for n in names if n not in REGISTRY]
    assert not unknown, f"not in registry: {unknown}"

    spark = get_spark(app_name="split_probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001"
    for n in names:
        try:
            REGISTRY[n].fn(spark, warm_dir).count()
        except Exception as e:  # noqa: BLE001
            # ADVICE r13: a silent warmup failure leaves the entry cold,
            # so its first timed run absorbs JIT/analysis cost — flag it.
            print(
                f"WARNING: warmup failed for {n}: {e!r} — first timed "
                "run will include cold JIT/analysis cost",
                flush=True,
            )
    for n in names:
        fn = REGISTRY[n].fn
        builds, execs = [], []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        gc.collect()
        b, e = statistics.median(builds), statistics.median(execs)
        print(
            f"{n}: build {b:.3f}  exec {e:.3f}  "
            f"(builds {[round(t, 3) for t in builds]}, "
            f"execs {[round(t, 3) for t in execs]})",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
