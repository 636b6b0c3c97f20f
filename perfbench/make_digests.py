"""Write digests.json: the expected result digest of every benchmarked
registry entry, from the entry's DuckDB oracle over the benchmark's
generated fixtures.

    python3 perfbench/make_digests.py

Run it again whenever the fixture generator, REGISTRY_SCALE, DATA_SEED
or REGISTRY_ENTRIES change. The digests follow the oracle harness's
canonical form (tests/oracle_harness.canon_rows).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import measure
    import workloads
    from sparkstreaming_gmall_demo_spark.plans import REGISTRY
    from tests.oracle_harness import canon_rows, duckdb_run

    fx = os.path.join(ROOT, ".perfbench_run", "digests")
    shutil.rmtree(fx, ignore_errors=True)
    try:
        gen.write_fixtures(fx, workloads.REGISTRY_SCALE, workloads.DATA_SEED)
        entries = {}
        for name in workloads.REGISTRY_ENTRIES:
            cols, rows = duckdb_run(REGISTRY[name].oracle, fx)
            entries[name] = measure.digest_rows(cols, rows, canon_rows)
            print(name, len(rows), "rows", file=sys.stderr)
    finally:
        shutil.rmtree(fx, ignore_errors=True)
    out = {
        "scale": workloads.REGISTRY_SCALE,
        "data_seed": workloads.DATA_SEED,
        "source": "DuckDB oracle of each entry (QuerySpec.oracle)",
        "entries": entries,
    }
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
