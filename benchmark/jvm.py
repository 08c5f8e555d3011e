"""Build the engine plus the benchmark driver from source, and launch it.

The engine (src/main/scala) and the driver (benchmark/scala) compile in
one scalac run against the Spark jars, with the Scala compiler that
ships among them. Class directories are cached under .bench_build,
keyed by a hash of every source file.
"""
import hashlib
import os
import shutil
import subprocess
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
SCALA_VERSION = "2.13.17"

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# repo's forked sbt runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def _sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"engine sources not found under {engine}")
    srcs = sorted(engine.rglob("*.scala")) + sorted((BENCH / "scala").glob("*.scala"))
    res = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    return srcs, resources


def classes_dir():
    """Compile if needed; return the class directory."""
    srcs, resources = _sources()
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / f"classes-tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs))
    compiler = ":".join(str(SPARK_JARS / f"scala-{n}-{SCALA_VERSION}.jar")
                        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{SPARK_JARS}/*",
           "-d", str(tmp), f"@{argfile}"]
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("scalac failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    if resources:
        base = ROOT / "src" / "main" / "resources"
        for p in resources:
            dst = tmp / p.relative_to(base)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(p, dst)
    (tmp / ".ok").write_text(f"{time.time() - t0:.1f}\n")
    for old in BUILD.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


def driver_cmd(classes, tmpdir, heap, args):
    return (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
             "-XX:+AlwaysPreTouch", *ADD_OPENS,
             f"-Djava.io.tmpdir={tmpdir}", "-Dgraft.scratch.disk=1",
             "-Duser.timezone=UTC", f"-Dderby.system.home={tmpdir}/derby",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmpdir}/hadoop",
             "-cp", f"{classes}:{SPARK_JARS}/*", "graftbench.Driver"]
            + [str(a) for a in args])


def run_driver(classes, workdir, heap, args, timeout):
    """Launch one driver JVM and wait for it; returns its exit code."""
    tmpdir = workdir / "tmp"
    tmpdir.mkdir(parents=True, exist_ok=True)
    launch_ms = int(time.time() * 1000)
    cmd = driver_cmd(classes, tmpdir, heap, list(args) + ["--launch-ms", launch_ms])
    with open(workdir / "driver.log", "ab") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=workdir)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
    return code


def log_tail(workdir, n=3000):
    f = workdir / "driver.log"
    return f.read_text(errors="replace")[-n:] if f.exists() else ""
