#!/usr/bin/env python3
"""Records and confirms the benchmark's committed output expectations.

  python3 perfbench/expectations.py record
      Runs every catalog entry the benchmark uses and writes
      perfbench/expected.json: row counts on the bench frame (sf0.1) and
      content fingerprints on the bench frame and the warm frame (sf0.001).

  python3 perfbench/expectations.py confirm
      Dumps the same entries on both frames with graft.Verify, checks the
      dumps against the DuckDB oracle with scripts/check_oracle.py, then
      checks that the oracle-confirmed dumps of both frames have exactly
      the committed row counts and fingerprints. Exit code 0 only if all of it passes.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def jvm(main, args, log, env=None):
    tmp = os.path.join(run.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = run.run_checked(run.java_cmd(run.build(), tmp, main) + args,
                         os.path.join(run.BUILD, "work"), log, timeout=3600, env=env)
    if rc != 0:
        print(f"{main} exited {rc}; see {log}", file=sys.stderr)
    return rc


def main():
    if len(sys.argv) != 2 or sys.argv[1] not in ("record", "confirm"):
        sys.exit(__doc__)
    for d in ("logs", "work"):
        os.makedirs(os.path.join(run.BUILD, d), exist_ok=True)
    dirs = run.frames()
    cpus = str(len(os.sched_getaffinity(0)))
    expected = os.path.join(run.HERE, "expected.json")
    if sys.argv[1] == "record":
        rc = jvm("perfbench.Main",
                 ["--mode", "record", "--bench-dir", dirs["bench"], "--warm-dir", dirs["warm"],
                  "--cpus", cpus, "--out", expected],
                 os.path.join(run.BUILD, "logs", "record.log"))
        sys.exit(rc)
    names = ",".join(sorted(json.load(open(expected))["rows"]))
    dumps = {}
    for frame, d in dirs.items():
        out = os.path.join(run.BUILD, "verify", frame)
        shutil.rmtree(out, ignore_errors=True)
        env = run.hermetic_env(d, cpus)
        env["SPARK_GRAFT_ONLY"] = names
        rc = jvm("graft.Verify", [d, out], os.path.join(run.BUILD, "logs", f"verify-{frame}.log"),
                 env=env)
        if rc != 0:
            sys.exit(f"graft.Verify failed on {frame}")
        oracle = subprocess.call([sys.executable,
                                  os.path.join(run.ROOT, "scripts", "check_oracle.py"),
                                  d, out, *names.split(",")])
        if oracle != 0:
            sys.exit(f"oracle gate failed on {frame}")
        dumps[frame] = out
    rc = jvm("perfbench.Main",
             ["--mode", "confirm", "--expected", expected, "--warm-dump", dumps["warm"],
              "--bench-dump", dumps["bench"], "--cpus", cpus],
             os.path.join(run.BUILD, "logs", "confirm.log"))
    print(open(os.path.join(run.BUILD, "logs", "confirm.log")).read())
    sys.exit(rc)


if __name__ == "__main__":
    main()
