"""Record the expected output fingerprints into expected.json.

Runs one pass of every workload on the seed-0 layout of its fixture
tables and writes the fingerprints of its outputs.  The inputs' content
does not depend on the seed, so these are the expected outputs for every
seed.  Re-record only
when a change is meant to alter the apps' results.

Usage (from the repository root)::

    python3 perfbench/record_expected.py
"""

import json
import os
import shutil
import sys

import inputs
import run
from workloads import EXPECTED_PATH, PASSES


def main() -> int:
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.WORK_ROOT, f"record-{os.getpid()}")
    run.session_env("4g", work)
    spark = run.start_spark(work)
    try:
        expected = {}
        for name, fn in PASSES.items():
            data_dir = os.path.join(work, f"data-{name}")
            inputs.write_inputs(name, data_dir, seed=0)
            run.reset_caches(spark)
            expected[name] = fn(spark, data_dir, os.path.join(work, name))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(expected, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
