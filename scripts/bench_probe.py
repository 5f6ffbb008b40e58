"""Per-entry bench probe: same methodology as bench.py (sf0.001 warmup
pass to absorb Catalyst/codegen, then median of N timed `.count()` runs
at the target SF), for a comma-separated subset of registry entries.

Usage: python scripts/bench_probe.py entry1,entry2[,...] [n_runs]
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

    spark = get_spark(app_name="bench_probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001"
    for n in names:
        try:
            REGISTRY[n].fn(spark, warm_dir).count()
        except Exception as e:  # noqa: BLE001
            # ADVICE r13 (split_probe's warmup rule, applied here too):
            # a silent warmup failure leaves the entry cold — flag it.
            print(
                f"WARNING: warmup failed for {n}: {e!r} — first timed "
                "run will include cold JIT/analysis cost",
                flush=True,
            )
    total = 0.0
    for n in names:
        fn = REGISTRY[n].fn
        samples = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        gc.collect()
        med = statistics.median(samples)
        total += med
        print(
            f"{n}: med {med:.3f}  all {[round(t, 3) for t in samples]}",
            flush=True,
        )
    print(f"TOTAL (medians): {total:.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
