"""Record the curation workload's expected output per input size and block.

    python3 perfbench/record_expected.py ENTITIES [ENTITIES ...]

Writes ``[n_packed, digest]`` for every block of each size into
expected_curation.json, which the curation workload checks every run
against. Run it only for a change that is meant to alter curate_corpus's
output, and review the new values with that change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import ROOT, _environment, get_spark
from workloads import EXPECTED_PATH, N_BLOCKS, WORKLOADS, row_digest


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]]
    work = os.path.join(ROOT, ".perfbench_work", f"record-{os.getpid()}")
    try:
        conf = _environment(work, trace=False)
        spark = get_spark(app_name="perfbench_record", extra_conf=conf)
        wl = WORKLOADS["curation"]
        with open(EXPECTED_PATH) as f:
            expected = json.load(f)
        for e in sizes:
            wl.entities = e
            for block in range(N_BLOCKS):
                rows, _ = wl.run(wl.setup(spark, block))
                expected.setdefault(str(e), {})[str(block)] = [len(rows), row_digest(rows)]
                spark.catalog.clearCache()
        spark.stop()
        with open(EXPECTED_PATH, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
