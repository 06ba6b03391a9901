"""Builds the engine and the harness from source with the Scala compiler
that ships with Spark, into a build directory keyed by a hash of the
sources (an unchanged tree is not rebuilt)."""
import glob
import hashlib
import os
import shutil
import subprocess

# the unmanaged jar directory build.sbt names, unless SPARK_JARS_DIR says otherwise
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
SCALA = "2.13.17"
COMPILER_CP = ":".join(
    f"{SPARK_JARS}/scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect"))


class BuildError(Exception):
    pass


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, classpath, out, stamp, log):
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", COMPILER_CP, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + files
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=850).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build(root, build_dir):
    """Compiles src/main/scala and perfbench/scala; returns the runtime
    classpath."""
    main_src = _sources(os.path.join(root, "src", "main", "scala"))
    bench_src = _sources(os.path.join(root, "perfbench", "scala"))
    if not main_src:
        raise BuildError("no engine sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    os.makedirs(build_dir, exist_ok=True)
    main_out = os.path.join(build_dir, "engine-classes")
    bench_out = os.path.join(build_dir, "perfbench-classes")
    main_stamp = _stamp(main_src, SCALA)
    _compile(main_src, f"{SPARK_JARS}/*", main_out, main_stamp,
             os.path.join(build_dir, "engine-build.log"))
    _compile(bench_src, f"{SPARK_JARS}/*:{main_out}", bench_out, _stamp(bench_src, main_stamp),
             os.path.join(build_dir, "perfbench-build.log"))
    return f"{bench_out}:{main_out}:{SPARK_JARS}/*"
