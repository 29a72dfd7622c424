"""Benchmark entry point.

    python3 perfbench/run.py --workload {queries,reference_etl} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run itself happens in a child
process (perfbench/harness.py) in a session of its own, so that the
JVM and Python workers it starts can be stopped and waited for when
it ends. All files it writes stay under .bench_build/perfbench in the
checkout; per-run scratch space is removed afterwards. Prints every
metric by name and unit; the last stdout line is the JSON result.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
PACKAGE = os.path.join(ROOT, "aurora_mito_etl_spark", "__init__.py")
RUN_TIMEOUT_S = 880


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the group; return
    once none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    if not os.path.isfile(PACKAGE):
        print(f"perfbench: {PACKAGE} not found; run from the repository root", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".bench_build", "perfbench", "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_TMP": tmp,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYTHONDONTWRITEBYTECODE": "1",
        # keep the JVMs' perf-data files out of /tmp
        "JAVA_TOOL_OPTIONS": "-XX:+PerfDisableSharedMem",
    })
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.harness", *sys.argv[1:]],
        cwd=ROOT,
        env=env,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
