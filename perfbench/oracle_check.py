#!/usr/bin/env python3
"""Cross-check the benchmark's queries against the DuckDB oracles and
record their expected digests.

    python3 perfbench/oracle_check.py

Generates the benchmark's base tables, dumps every benchmark query's result
with graft.Verify and compares each with its oracle SQL through
tools/check.py. Only when every query passes does it run the benchmark's
query workload once on the same tables and write their digests to
expected_digests.json, the file run.py checks each result against. Takes a
few minutes; the oracles for the heavy queries dominate.
"""
import json
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.BUILD, "oracle")


def main():
    jar, _ = run.build()
    data, dump = os.path.join(OUT, "data"), os.path.join(OUT, "dump")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "tmp"))
    run.gen.write_base(run.SF, data)
    names = run.FLOOR + run.HEAVY
    subprocess.run(
        ["java", f"-Xmx{run.JVM_HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
         f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"] + run.ADD_OPENS +
        ["-cp", jar + os.pathsep + os.path.join(run.SPARK_JARS, "*"),
         "graft.Verify", data, dump] + names,
        check=True, cwd=OUT, stdout=subprocess.DEVNULL)
    r = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                        dump, data] + names)
    if r.returncode != 0:
        sys.exit("oracle check failed; expected_digests.json left as it is")
    digests = {}
    work = os.path.join(OUT, "queries")
    run.generate("queries", 0, os.path.join(work, "input"))
    res = run.run_jvm(jar, "queries", os.path.join(work, "input"), work,
                      0, 0, run.DEADLINE_S)
    for o in res["ops"]:
        if not o["ok"]:
            sys.exit(f"{o['name']} failed in the benchmark: {o['error']}")
        digests[o["name"]] = o["detail"]
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as fh:
        json.dump(dict(sorted(digests.items())), fh, indent=1)
        fh.write("\n")
    print(f"wrote {len(digests)} expected digests")


if __name__ == "__main__":
    main()
