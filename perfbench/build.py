"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala`` of the checkout) together
with the benchmark's own sources (``perfbench/src``) using the Scala
compiler that ships in the Spark distribution, and copies graft's
resources beside the classes. The output goes to ``$CARGO_TARGET_DIR``
(default ``.bench_build``) under the checkout root; a fingerprint of every
source skips the compile when nothing changed.

    python3 perfbench/build.py        # build, print the classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_home() -> Path:
    """$SPARK_HOME, else the distribution `spark-submit` on the PATH is in."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return Path(submit).resolve().parent.parent


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"graft sources not found: {main} is missing")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files


def resources():
    res = ROOT / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def fingerprint(files) -> str:
    h = hashlib.sha256()
    for f in list(files) + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(spark_home() / "jars" / "*")])


def build(quiet: bool = True) -> str:
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    res = resources()
    out = build_dir()
    classes = out / "classes"
    stamp = classes / "STAMP"
    fp = fingerprint(srcs + res)
    if stamp.is_file() and stamp.read_text() == fp:
        return classpath(classes)
    jars = spark_home() / "jars"
    if not jars.is_dir():
        raise BuildError(f"Spark jars not found under {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    if not quiet:
        sys.stderr.write(p.stdout)
    base = ROOT / "src" / "main" / "resources"
    for r in res:
        dst = tmp / r.relative_to(base)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    (tmp / "STAMP").write_text(fp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classpath(classes)


if __name__ == "__main__":
    try:
        print(build(quiet=False))
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
