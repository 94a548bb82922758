#!/usr/bin/env python3
"""Write the committed ETL digests of perfbench/expected.json.

    python3 perfbench/record_expected.py

Runs one etl-store cycle of every input variant in the harness and stores
each cycle's result digests (ETL table, compacted table, merged table,
store search results and live counts) under its variant number. The
benchmark command only reads this file. Check the new digests before
committing them: a digest recorded from a wrong result makes every later
run compare against that wrong result.
"""
import json
import os
import shutil
import sys

import run
import workloads


def main():
    ids = workloads.OpIds()
    plan = workloads.plan("etl-store", 0)
    plan["units"] = [workloads.etl_cycle(v, ids)
                     for v in range(workloads.ETL_VARIANTS)]
    plan["min_units"] = workloads.ETL_VARIANTS
    out, _, run_dir = run.run_harness(plan, 0, False, budget=3600)
    shutil.rmtree(run_dir, ignore_errors=True)
    failed = [o for o in out["timed"]["ops"] if not o["ok"]]
    if failed:
        run.fail(f"cycle operations failed: {failed[:3]}")
    bad = {wh for wh, (_, facts) in run.etl_facts(out).items()
           if facts["etl_table"] != facts["etl_table_compacted"]}
    if bad:
        run.fail(f"compaction changed the table content in {sorted(bad)}")
    path = os.path.join(run.HERE, "expected.json")
    expected = {"etl": {str(v): facts
                        for v, facts in run.etl_facts(out).values()}}
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
