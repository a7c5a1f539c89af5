"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, packs them into one jar in the build directory
(CARGO_TARGET_DIR if set, else .bench_build), then records a class-data
archive: one JVM runs a tiny pass over every workload with
-XX:ArchiveClassesAtExit, and each measured run maps the archive instead
of loading and verifying Spark's classes again (about 10 s less per run on
a 4-core machine). A stamp over every source file skips the build when
nothing changed; a failed training pass leaves runs without the archive.

    python3 perfbench/build.py      # prints the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH whose installation
    ships its jars (a pip-installed launcher may come first)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and \
                glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME or put Spark's spark-submit on PATH")


SPARK_JARS = os.path.join(_spark_home(), "jars")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"),
                             recursive=True))
    return main, bench


def jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def classpath():
    return os.path.join(build_dir(), "perfbench.jar") + os.pathsep + \
        os.path.join(SPARK_JARS, "*")


def archive():
    """The class-data archive, if the last build recorded one."""
    p = os.path.join(build_dir(), "classes.jsa")
    return p if os.path.isfile(p) else None


def jvm_options(heap, tmpdir):
    """Options shared by the training JVM and every measured run."""
    opts = ["-Xmx" + heap, "-Xss8m", "-Xlog:all=warning:stderr",
            "-Djava.io.tmpdir=" + tmpdir,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts


# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# program's build.sbt and org.apache.spark.launcher.JavaModuleOptions)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """MemTotal / 2 GiB, clamped to 2..8 GiB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(int(line.split()[1]) / 2097152)
                    return "%dg" % min(8, max(2, g))
    except OSError:
        pass
    return "2g"


def _run(cmd, children, timeout, **kw):
    """Run a child in its own process group, registered in `children` so a
    caller's signal handler can stop it; returns its exit code."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        return -1


def train(out, children):
    """Record the class-data archive from one tiny pass over every workload."""
    work = os.path.join(out, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jsa = os.path.join(out, "classes.jsa")
    cmd = ["java", "-XX:ArchiveClassesAtExit=" + jsa] + \
        jvm_options(heap(), os.path.join(work, "tmp")) + \
        ["-cp", classpath(), "perfbench.Main", "--train", "1",
         "--work", work, "--results", work, "--cores", str(cores())]
    print("perfbench: recording the class-data archive", file=sys.stderr)
    with open(os.path.join(out, "train.log"), "w") as log:
        rc = _run(cmd, children, 600, cwd=work, stdout=log, stderr=log)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(jsa):
        os.remove(jsa)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.basename(j) for j in jars()]:
        h.update(f.replace(ROOT, "").encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    res = os.path.join(ROOT, "src/main/resources")
    for f in sorted(glob.glob(res + "/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(f.replace(ROOT, "").encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(children=None):
    """Build if the sources changed; return (jar, source digest). Child
    processes are registered in `children` while they run."""
    children = [] if children is None else children
    main, bench = sources()
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    if not jars():
        raise SystemExit(f"perfbench: no Spark jars under {SPARK_JARS}")
    digest = stamp(main + bench + [os.path.abspath(__file__)])
    out = build_dir()
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.isfile(jar) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                return jar, digest
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "classes")
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(main + bench) + "\n")
    compiler = os.pathsep.join(
        glob.glob(os.path.join(SPARK_JARS, f"scala-{n}-2.13*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath",
           os.pathsep.join(jars()), "-d", tmp, "@" + argfile]
    print("perfbench: compiling %d sources" % (len(main) + len(bench)),
          file=sys.stderr)
    if _run(cmd, children, 900, stdout=sys.stderr) != 0:
        raise SystemExit("perfbench: compilation failed")
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    # the class-data archive accepts jars only on the class path
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    train(out, children)
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    return jar, digest


if __name__ == "__main__":
    print(build()[0])
