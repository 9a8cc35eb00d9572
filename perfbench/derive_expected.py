#!/usr/bin/env python3
"""Re-derive the catalog workload's expected result hashes.

    python3 perfbench/derive_expected.py

Run from a checkout root whose program is known good. It goes through the
repository's DuckDB oracle route: graft.Verify dumps every catalog query's
result over perfbench/data/sf0.01, tools/check_oracle.py compares each dump
with DuckDB running the query's oracle SQL, and only when every query
matches are the dumps' hashes written to
perfbench/src/main/resources/catalog_sf0.01.tsv.
"""
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.HERE, "src", "main", "resources", "catalog_sf0.01.tsv")


def main():
    cp = run.build(run.source_digest())
    data = os.path.join(run.HERE, "data", "sf0.01")
    work = os.path.join(run.BUILD, "runs", "derive")
    dump = os.path.join(work, "dump")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = run.jvm_env(work)
    subprocess.run(run.java_cmd(cp, work, [data, dump], main="graft.Verify"),
                   cwd=work, env=env, check=True, stderr=subprocess.DEVNULL)
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
         data, dump], capture_output=True, text=True)
    sys.stdout.write(check.stdout[-400:])
    if check.returncode != 0 or "FAILED: none" not in check.stdout:
        sys.exit("oracle check failed; expected hashes left unchanged")
    p = subprocess.run(
        run.java_cmd(cp, work, [
            "--workload", "derive_catalog_expected", "--seed", "0",
            "--seconds", "0", "--data", dump, "--work", work]),
        cwd=work, env=env, check=True, capture_output=True, text=True)
    rows = [l for l in p.stdout.splitlines() if "\t" in l]
    with open(OUT, "w") as fh:
        fh.write("\n".join(rows) + "\n")
    print(f"wrote {len(rows)} hashes to {OUT}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
