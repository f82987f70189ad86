"""Build file of the benchmark package, and the JVM it runs on.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (pipebench/src) with the Scala compiler that ships in Spark's
jar directory, packs the classes into one jar, and records a class-data
sharing archive of the classes a warm-up pass loads, so that every run's
JVM starts from it. Output goes to <target>/classes-<hash of every source>,
so an unchanged tree is built once and a changed one is never run stale.

    python3 pipebench/build.py        # prints the build directory
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "pipebench", "src")

K = 4          # Spark's local[K]; the GC threads are capped to it
HEAP = "2g"    # -Xms = -Xmx
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


_child = None


def call(cmd, cwd=None, out=subprocess.PIPE, timeout=None):
    """run `cmd` in its own process group; returns (exit code or "timeout",
    captured output). stop() kills the group from a signal handler."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, text=True,
                              start_new_session=True)
    try:
        text, _ = _child.communicate(timeout=timeout)
        return _child.returncode, text or ""
    except subprocess.TimeoutExpired:
        stop()
        return "timeout", ""
    finally:
        _child = None


def stop():
    """kill the running child's process group and wait for it"""
    if _child is not None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def target_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars: Spark, and the Scala compiler it ships with"""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars) or not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"SPARK_HOME must name a Spark install whose jars include scala-compiler, not {jars!r}")
    return os.path.join(jars, "*")


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jvm(classpath, tmp, *flags):
    """the java command line of every benchmark JVM, up to the main class"""
    log4j = os.path.join(ROOT, "pipebench", "log4j2.properties")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-XX:ParallelGCThreads={K}", "-XX:ConcGCThreads=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dpipebench.k={K}", f"-Dlog4j2.configurationFile=file:{log4j}",
           "-Dspark.ui.enabled=false", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def build(log=sys.stderr):
    """returns (classpath, class-data archive) of the built tree"""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(target_dir(), "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([os.path.join(out, "classes.jar"), jars])
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(os.path.join(out, "_OK")):
        return classpath, archive
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    args = os.path.join(tmp, "_sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    print(f"[pipebench] compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}", file=log)
    code, text = call(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                       "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars,
                       "@" + args])
    if code != 0:
        raise BuildError("scalac failed:\n" + text[-6000:])
    # class-data sharing archives only classes that come from jars
    with zipfile.ZipFile(os.path.join(tmp, "classes.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    os.remove(args)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print("[pipebench] recording the class-data archive", file=log)
    work = os.path.join(out, "warm")
    os.makedirs(work)
    code, text = call(jvm(classpath, work, f"-XX:ArchiveClassesAtExit={archive}") + ["pipebench.Warm", work],
                      cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(archive):
        raise BuildError("the warm-up run that records the class-data archive failed:\n" + text[-6000:])
    open(os.path.join(out, "_OK"), "w").close()
    return classpath, archive


if __name__ == "__main__":
    try:
        print(os.path.relpath(os.path.dirname(build()[1]), ROOT))
    except BuildError as e:
        print(f"[pipebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
