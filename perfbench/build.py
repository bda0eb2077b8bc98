"""Build file of the benchmark: compiles the engine and the harness.

The engine (`src/main/scala`) and the harness (`perfbench/src`) are
compiled in two steps with the Scala compiler that ships in Spark's jar
directory, so the build needs nothing beyond the Spark install the
engine already runs on. Each step's output lands in
`.bench_build/classes/<step>-<sha>` and is reused while its sources are
unchanged. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise RuntimeError("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler under {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def _sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise RuntimeError(f"no Scala sources under {root}")
    return files


def _digest(files, key):
    h = hashlib.sha256(key.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _compile(step, files, classpath, log, key=""):
    out = os.path.join(BUILD_DIR, "classes", f"{step}-{_digest(files, key)}")
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    args_file = os.path.join(BUILD_DIR, f"{step}.sources")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[build] compiling {step}: {len(files)} files", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + args_file]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise RuntimeError(f"scalac failed for {step} (exit {res.returncode})")
    open(done, "w").close()
    return out


def build(log=sys.stderr):
    """Compile engine then harness; return the runtime classpath."""
    jars = spark_jars()
    engine = _compile("engine", _sources(os.path.join("src", "main", "scala")),
                      jars, log)
    engine_cp = engine + os.pathsep + jars
    # keyed by the engine build too: the harness links against it
    harness = _compile("harness", _sources(os.path.join("perfbench", "src")),
                       engine_cp, log, key=engine)
    return harness + os.pathsep + engine_cp


if __name__ == "__main__":
    print(build())
