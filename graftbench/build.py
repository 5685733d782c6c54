"""Build file of the graft benchmark: compiles the engine's sources and the
benchmark harness with the Scala compiler that ships with Spark.

    python3 graftbench/build.py        # prints the build output directory

The output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under a
directory named by a hash of every input, so an unchanged tree is never
rebuilt and a changed one never runs stale classes. It holds one jar of
the compiled classes and resources, and a JVM class-data archive made by
a short training run: benchmark JVMs map Spark's classes from it, which
halves their start-up on a small host.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
SCALA_VERSION = "2.13.17"


def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on PATH whose installation
    ships the Scala compiler jar."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", f"scala-compiler-{SCALA_VERSION}.jar")):
            return home
    raise SystemExit("build: no Spark installation with Scala "
                     f"{SCALA_VERSION}; set SPARK_HOME")


SPARK_JARS = os.path.join(spark_home(), "jars")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(ROOT, "graftbench/harness/*.scala")))
    return main + harness


def jars():
    found = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not found:
        raise SystemExit(f"build: no Spark jars under {SPARK_JARS}")
    return found


JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_command(out, heap="1536m"):
    """The JVM command line that runs the harness from build output `out`."""
    # The serial collector grows the heap only when occupancy after a
    # collection needs it, so the peak resident set follows the memory the
    # program holds. G1 sizes the heap by GC time, which made the same run
    # read 1.1-1.5 GB; a fixed -Xms heap made it read the cap. The metaspace
    # threshold keeps class loading from forcing full collections at random
    # points of the timed phase. -UsePerfData: no hsperfdata file outside
    # the build tree.
    return (["java", "-XX:+UseSerialGC", "-XX:MetaspaceSize=256m", f"-Xmx{heap}", "-Xss8m",
             "-XX:-UsePerfData"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
            + [f"-XX:SharedArchiveFile={os.path.join(out, 'classes.jsa')}", "-Xshare:auto",
               f"-Dlog4j2.configurationFile={os.path.join(ROOT, 'graftbench', 'log4j2.properties')}",
               "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
               "-cp", os.path.join(out, "graft.jar") + ":" + os.path.join(SPARK_JARS, "*")])


def build():
    """Compile and archive if needed; return the build output directory."""
    srcs = sources()
    h = hashlib.sha256()
    resources = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True))
    # build.py too: it holds the JVM flags the class-data archive is made with
    for f in srcs + resources + jars() + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        if not f.endswith(".jar") and os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".complete")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
                    for m in ("compiler", "library", "reflect")]
        args = os.path.join(tmp, "scalac.args")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", ":".join(jars()), "@" + args]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=800)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-5000:])
            raise SystemExit("build: scalac failed")
        os.remove(args)
        with zipfile.ZipFile(os.path.join(tmp, "graft.jar"), "w") as jar:
            for base in (tmp, os.path.join(ROOT, "src/main/resources")):
                for d, _, files in os.walk(base):
                    for f in files:
                        if f.endswith(".class") or base != tmp:
                            p = os.path.join(d, f)
                            jar.write(p, os.path.relpath(p, base))
        for entry in os.listdir(tmp):
            if entry != "graft.jar":
                shutil.rmtree(os.path.join(tmp, entry))
        # the archive records the jar's path: train at the final location
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        train = os.path.join(out, "train")
        cmd = [f"-XX:ArchiveClassesAtExit={os.path.join(out, 'classes.jsa')}"
               if c.startswith("-XX:SharedArchiveFile=") else c for c in java_command(out)]
        res = subprocess.run(cmd + [
            "-Djava.io.tmpdir=" + train, "graft.e2e.Main", "--workload", "class-archive",
            "--seed", "0", "--seconds", "0", "--trace", "0", "--inputs", train,
            "--work", train, "--out", os.path.join(train, "result.json")],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
        shutil.rmtree(train, ignore_errors=True)
        if res.returncode != 0 or not os.path.exists(os.path.join(out, "classes.jsa")):
            sys.stderr.write(res.stdout[-5000:])
            raise SystemExit("build: class-archive training run failed")
        open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
