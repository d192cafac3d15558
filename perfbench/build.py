"""Build of the benchmark: the program's sources (src/main/scala) and the
harness (perfbench/src/main/scala) compiled together into one directory
of classes.

It uses nothing but `java` and a Spark installation: the Scala compiler
that ships among Spark's jars compiles against those jars, so the build
resolves nothing and writes only under the output directory it is given.
Spark is found through $SPARK_HOME, else the spark-submit on the PATH,
else the `unmanagedBase` that the program's own build.sbt names.

    classpath(root, out) -> the runtime classpath, compiling first when
                            any source changed since the last build
"""
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

SOURCE_ROOTS = [os.path.join("src", "main", "scala"),
                os.path.join("perfbench", "src", "main", "scala")]
BUILD_KILL_S = 850


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java: set JAVA_HOME or put java on the PATH")
    return found


def spark_jars(root):
    """The jars directory of the Spark installation."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if os.path.isdir(os.path.join(h, "jars")):
            return os.path.join(h, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("no Spark installation found: set SPARK_HOME")


def sources(root):
    """Every source file, relative to root, in a stable order."""
    files = []
    for r in SOURCE_ROOTS:
        for d, _, fs in os.walk(os.path.join(root, r)):
            files += [os.path.relpath(os.path.join(d, f), root)
                      for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp(root, jars):
    h = hashlib.sha256(jars.encode())
    for f in sources(root) + [os.path.relpath(__file__, root)]:
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root, out):
    jars = spark_jars(root)
    spark_cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    classes = os.path.join(out, "classes")
    cp = os.pathsep.join([classes] + spark_cp)
    want = stamp(root, jars)
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return cp

    print("perfbench: building (first run in this checkout or sources changed)",
          file=sys.stderr, flush=True)
    compiler = [j for name in ("scala-compiler", "scala-library", "scala-reflect")
                for j in spark_cp if os.path.basename(j).startswith(name + "-")]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(out, "build-tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(out, "build.args")
    with open(args, "w") as f:
        f.write("\n".join(os.path.join(root, s) for s in sources(root)) + "\n")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(
            [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-usejavacp:false", "-encoding", "UTF-8", "-nowarn",
             "-classpath", os.pathsep.join(spark_cp), "-d", classes, "@" + args],
            cwd=out, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        code = wait(p, BUILD_KILL_S)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise BuildError(f"build failed (exit {code}); log in {log}")
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def wait(p, limit):
    """Waits for p; kills its whole process group past `limit` seconds."""
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
