"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark harness (`perfbench/harness`) with the Scala
compiler that ships in the Spark distribution, packs the classes into
`.bench_build/graft.jar`, and records a class-data-sharing archive of the
classes a Spark session loads (`.bench_build/graft.jsa`), so every run's
JVM starts from the same, shorter class loading.

A content stamp over every source file skips the build when nothing
changed. Run it alone with `python3 perfbench/build.py` from the root of
the checkout.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def spark_jars(root):
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else
    the `unmanagedBase` the engine's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return m.group(1)


def classpath(root):
    return os.pathsep.join([os.path.join(root, BUILD_DIR, "graft.jar"), os.path.join(spark_jars(root), "*")])


def jvm_args(root, tmpdir):
    """Flags of every harness JVM: heap, the JDK 17 opens Spark needs,
    the scratch tmpdir and, once built, the class-data-sharing archive."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jsa = os.path.join(root, BUILD_DIR, "graft.jsa")
    cds = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] if os.path.exists(jsa) else []
    return ["java", "-Xmx4g", "-Xss8m", *opens, *cds, f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-cp", classpath(root)]


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "harness", "*.scala")))
    return main, harness


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def archive(root):
    """Dumps the classes a short Spark session loads (`Main` with
    `workload=classes`) into the class-data-sharing archive. A failed dump
    leaves no archive and the runs start without one."""
    out = os.path.join(root, BUILD_DIR)
    jsa = os.path.join(out, "graft.jsa")
    work = os.path.join(out, "cds_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = jvm_args(root, work) + [f"-XX:ArchiveClassesAtExit={jsa}", "graft.perfbench.Main",
                                  "workload=classes", f"work={work}", "seconds=0", "trace=0"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(jsa):
        sys.stderr.write("perfbench: no class-data-sharing archive (runs start without one)\n" + r.stdout[-3000:])
        if os.path.exists(jsa):
            os.remove(jsa)


def ensure(root):
    """Builds the jar and the archive when stale; returns the jar."""
    main, harness = sources(root)
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a checkout")
    h = hashlib.sha256()
    for p in main + harness:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    jar = os.path.join(out, "graft.jar")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + harness) + "\n")
    jars = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    for f in (jar, os.path.join(out, "graft.jsa")):
        if os.path.exists(f):
            os.remove(f)
    pack(tmp, jar)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    archive(root)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


if __name__ == "__main__":
    print(ensure(os.getcwd()))
