"""Record the input and output digests of every workload for seeds
0..PINNED_SEEDS-1 (and the generator probe digests) into digests.json.

    python3 perfbench/pin_digests.py

Run it only after a deliberate change to a generator or to a workload's
output; the benchmark then checks every run against the new pins.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as R  # noqa: E402

PINNED_SEEDS = 24


def main() -> None:
    run_dir = os.path.join(R.STATE, f"pin-{os.getpid()}")
    R._environment(run_dir)

    from perfbench import inputs, obs
    from perfbench.workloads import WORKLOADS

    pins = {"probes": inputs.probe_digests(), "inputs": {}, "outputs": {}}
    spark = R._start_spark(run_dir, len(os.sched_getaffinity(0)))
    try:
        for seed in range(PINNED_SEEDS):
            ctx = R.Context(spark, seed, os.path.join(run_dir, "work"),
                            obs.Tracer("pin", enabled=False), pins)
            for cls in WORKLOADS.values():
                wl = cls(ctx)
                wl.prepare()
                pins["inputs"][wl.input_key()] = wl.input_digest()
                pins["outputs"][wl.input_key()] = wl.output_digest()
                print(wl.input_key(), pins["inputs"][wl.input_key()], flush=True)
    finally:
        R._stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(inputs.DIGESTS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
