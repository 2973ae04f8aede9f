"""Build file of the benchmark package.

Compiles the program's main sources and the benchmark's own Scala sources
(perfbench/src) with the Scala compiler that ships among the Spark jars, into
`.bench_build/classes-<hash>` of the checkout. The hash covers both source
trees, so a run reuses an earlier build of the same sources and rebuilds after
any change. The Spark jar directory is the one `build.sbt` names in
`unmanagedBase`, or `$SPARK_HOME/jars`.

    python3 perfbench/build.py      # from the root of a checkout
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def source_hash(root):
    h = hashlib.sha256()
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for p in _sources(d):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + sources
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}); see {log}")


def ensure(root):
    """Return (main_classes, bench_classes), compiling them when needed."""
    main_src = _sources(os.path.join(root, "src", "main", "scala"))
    if not main_src:
        raise BuildError("no program sources under src/main/scala: run from the root of a checkout")
    jars = spark_jars(root)
    base = os.path.join(root, ".bench_build", f"classes-{source_hash(root)[:16]}")
    main_out, bench_out = os.path.join(base, "main"), os.path.join(base, "bench")
    done = os.path.join(base, "BUILT")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        log = os.path.join(base, "build.log")
        jar_cp = os.path.join(jars, "*")
        _scalac(jars, jar_cp, main_out, main_src, log)
        _scalac(jars, os.pathsep.join([main_out, jar_cp]), bench_out,
                _sources(os.path.join(HERE, "src")), log)
        open(done, "w").close()
    return main_out, bench_out, jars


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build: {e}")
