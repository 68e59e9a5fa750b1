#!/usr/bin/env python3
"""Build and run the graft sink/stream/query benchmark.

    python3 graftbench/run.py --workload skewed --seed 1 --seconds 24 --trace 0

Run from anywhere; paths resolve against this file. The first run in a
checkout compiles the library sources under src/main together with the
benchmark (sbt, offline) and caches the runtime classpath under
.bench_build/; later runs start the benchmark JVM directly, so neither
sbt nor compilation is inside any timed figure. The benchmark JVM prints
one JSON result as the last line of standard output.

Extra option, not used by benchmark runs:
  --size tiny   small inputs (the smoke test)
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "graftbench"
LIB_SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "resources"]
# The registered queries read the generated TPC-H-style testdata
# (TESTDATA.md at the repository root).
TESTDATA = os.environ.get("GRAFT_TESTDATA", str(Path.home() / "testdata"))
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_files():
    skip = {"target", "project/target", "project/project"}
    roots = LIB_SOURCES + [HERE]
    for root in roots:
        for path in sorted(root.rglob("*")):
            rel = path.relative_to(HERE).as_posix() if root == HERE else None
            if rel is not None and any(rel == s or rel.startswith(s + "/") for s in skip):
                continue
            if path.is_file() and (path.suffix in (".scala", ".sbt") or "META-INF" in path.parts
                                   or path.name == "build.properties"):
                yield path


def stamp():
    h = hashlib.sha256()
    for path in source_files():
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()


_child = None


def _stop_child(signum, _frame):
    """Kills the running child's process group, then exits."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this script is interrupted or terminated."""
    global _child
    proc = _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def spark_home():
    """SPARK_HOME, else the installation of the first spark-submit on PATH
    that ships its jars (a pip-installed pyspark launcher does not)."""
    candidates = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in candidates:
        if home and any(Path(home, "jars").glob("spark-core_*.jar")):
            return home
    raise SystemExit("graftbench: set SPARK_HOME to a Spark 4 installation")


def build():
    """Compiles if any source changed; returns the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"graftbench: build failed (sbt exit {code})")
    lines = [l for l in out.splitlines() if "scala-library" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out[-6000:])
        raise SystemExit("graftbench: sbt printed no classpath")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(want)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    for sig in (signal.SIGINT, signal.SIGTERM):
        signal.signal(sig, _stop_child)

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"graftbench: no library sources under {ROOT / 'src' / 'main' / 'scala'}")
    classpath = build()

    work = BUILD / f"work-{a.workload}-{a.seed}-{a.trace}-{a.size}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "graftbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--work", str(work / "run"),
             "--fingerprints", str(HERE / "mix_fingerprints.tsv"),
             "--testdata", TESTDATA, "--size", a.size]
    try:
        code, out = run_group(java, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"graftbench: run exceeded {RUN_TIMEOUT_S}s")
    lines = out.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"graftbench: benchmark JVM failed (exit {code})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
