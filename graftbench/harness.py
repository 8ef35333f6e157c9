"""Shared plumbing for run.py and record.py: where the inputs are, a
fresh work directory per run, and one JVM launch."""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import build

BENCH = build.BENCH
ROOT = build.ROOT
# every run's scratch (stores, checkpoints, LLM cache, Spark local dirs)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

# Spark 4 on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 170
HEAP = "3g"


def data_dir():
    """The sf0.1 tables: $SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(d, "customer.parquet")):
        raise FileNotFoundError("sf0.1 tables not found in %s "
                                "(set SPARK_GRAFT_SF_DIR)" % d)
    return d


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_1m():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return None


def commit():
    """The commit being measured, when the checkout is a git work tree."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


class WorkDir:
    """A fresh directory under .bench_work/, removed on exit."""

    def __enter__(self):
        os.makedirs(WORK_ROOT, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.path, d))
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass
        return False


def launch(classpath, work, args, timeout=JVM_TIMEOUT_S):
    """Run graftbench.Main in a fresh JVM (cwd = the work dir). Returns
    the wall seconds from spawn to exit; raises on a non-zero exit."""
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd = [build.java(), "-Xmx" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           ] + opens + ["-cp", os.pathsep.join(classpath), "graftbench.Main",
                        "--work", work, "--bench", BENCH] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    t0 = time.monotonic()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout after %ds" % timeout
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    dt = time.monotonic() - t0
    if code != 0:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        ops = [l for l in tail.splitlines() if l.startswith(("[op]", "Exception", "Caused"))]
        raise RuntimeError("benchmark JVM failed (%s):\n%s" % (code, "\n".join(ops[-20:]) or tail))
    return dt


def read_json(path):
    with open(path) as fh:
        return json.load(fh)


def fail(msg, code=1):
    print(msg, file=sys.stderr)
    sys.exit(code)
