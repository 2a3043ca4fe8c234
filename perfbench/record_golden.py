#!/usr/bin/env python3
"""Record the golden output digests of the ops-floor pool.

    python3 perfbench/record_golden.py <dump-dir>

Runs every floor key once over the sf0.1 tables, writes each result
under <dump-dir> the way `graft.Verify` does (with an oracle_sql.json),
and stores the digest of what was written in perfbench/golden.json.
Confirm the dump against the DuckDB oracle before committing:

    python3 tools/selfcheck.py <dump-dir> perfbench/data/sf0.1
"""
import json
import os
import shutil
import sys

import run


def main():
    dump = os.path.abspath(sys.argv[1])
    with open(os.path.join(run.HERE, "pools.json")) as f:
        keys = [row[0] for row in json.load(f)["pools"]["floor"]["keys"]]
    classpath, options = run.build()
    work = os.path.join(run.BUILD_DIR, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.makedirs(dump, exist_ok=True)
    with open(os.path.join(work, "keys.txt"), "w") as f:
        f.write("\n".join(keys) + "\n")
    run.JVM_TIMEOUT_S = 4 * 3600
    try:
        _, res = run.run_jvm(classpath, options, work, {
            "mode": "record", "trace": 0, "keys": os.path.join(work, "keys.txt"),
            "data": os.path.join(run.HERE, "data", "sf0.1"), "dump": dump})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    digests = res["digests"]
    errors = {k: v for k, v in digests.items() if v.startswith("error")}
    for k, v in errors.items():
        print(f"{k}: {v}", file=sys.stderr)
    with open(os.path.join(run.HERE, "golden.json"), "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=0)
        f.write("\n")
    print(f"{len(digests)} digests, {len(errors)} errors")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
