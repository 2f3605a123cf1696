"""Build file for the perfbench harness.

Compiles the repo's main sources (src/main/scala) together with the
harness (perfbench/src) straight through the Scala compiler that ships
in the Spark distribution's jars, so no build tool or network is needed.
Spark comes from `$SPARK_HOME`. Output goes to
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/` at the repo root)
and is reused while the sources are unchanged.

Usage: python3 perfbench/build.py     (prints the classes dir)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars dir of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark jars under $SPARK_HOME/jars")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"perfbench: no graft sources under {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                       recursive=True)
    return sorted(files)


def build():
    """Compile if needed; return the classes directory."""
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(ROOT if not os.path.isabs(target) else "", target,
                       "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if j.startswith(("scala-compiler-", "scala-library-",
                                 "scala-reflect-"))]
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, "-cp", os.path.join(jars, "*"), "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
