#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line:

    python3 perfbench/run.py --workload sync_apply --seed 1 --seconds 10 --trace 0

Workloads: sync_apply, stream_ingest, registry_mix. `--trace 1` reports
the per-layer metrics and writes the trace to perfbench/.work/traces/.
Extra flags are passed to the benchmark: `--corrupt readback|sink|ref`
feeds a check a wrong value (the run must then fail), `--selftest`
runs the generator/check self-tests. Run from the repo root.
"""
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
TIMEOUT_S = 170


def main(argv):
    try:
        cp = build.build()
    except SystemExit as e:
        print(f"run: build failed: {e}", file=sys.stderr)
        return 2
    except subprocess.CalledProcessError as e:
        print(f"run: build failed: the compiler exited {e.returncode}", file=sys.stderr)
        return 2
    work = build.HERE / ".work"
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    (work / "traces").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g",
           *[a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
           f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--work", str(run_dir), "--traces", str(work / "traces"), *argv]
    if "--selftest" in argv:
        cmd.append("1")
    try:
        return subprocess.run(cmd, cwd=build.ROOT, timeout=TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"run: no result within {TIMEOUT_S}s", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
