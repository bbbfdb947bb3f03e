"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload annotate_refresh --seed 1 --seconds 14 --trace 0

Builds the program and the benchmark from source on first use (see
build.py), then runs perfbench.Main in one JVM.  Every file the run writes
stays under .bench_build/ in the checkout; the run's scratch directory is
removed at the end, the per-layer report of a traced run is kept under
.bench_build/perfbench/reports/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("annotate_refresh", "kg_analytics")
DEADLINE_S = 175
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
KEYS = {"correct", "attempted", "failed", "metrics"}


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    work = build.OUT / f"run-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = ([build.java(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
            "-XX:+AlwaysPreTouch", "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--report", str(build.OUT / "reports"),
              "--result", str(result)])
    log = work.parent / f"{work.name}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stderr=err, start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                code = "timeout"
        if code != 0 or not result.exists():
            sys.stderr.write(Path(log).read_text()[-4000:])
            raise SystemExit(f"perfbench: run failed ({code})")
        out = json.loads(result.read_text())
        if set(out) != KEYS:
            raise SystemExit(f"perfbench: malformed result {out}")
        log.unlink()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
