"""Build file of the benchmark: compiles the library (src/main/scala) and the
harness (perfbench/scala) with scalac, using the Scala and Spark jars of the
Spark install ($SPARK_HOME, or the one whose spark-submit is on PATH).

Classes land under $CARGO_TARGET_DIR/perfbench/ (default .bench_build), in
directories named by a digest of their sources, so an unchanged tree is
built once and a changed one is rebuilt.

    python3 perfbench/build.py      # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALAC_TIMEOUT_S = 800


def spark_jars():
    """Jars of the first Spark install that ships scala-compiler: $SPARK_HOME,
    then the install of each spark-submit along PATH.
    """
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d, "spark-submit").resolve().parent.parent
              for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in homes:
        jars = sorted(Path(home, "jars").glob("*.jar"))
        if any(j.name.startswith("scala-compiler") for j in jars):
            return jars
    raise SystemExit("perfbench: no Spark install with a scala-compiler jar "
                     "(set SPARK_HOME or put its spark-submit on PATH)")


def build_root(root):
    return Path(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(root):
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((root / "perfbench" / "scala").rglob("*.scala"))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala "
                         "(run from the repository root)")
    if not harness:
        raise SystemExit("perfbench: no harness sources under perfbench/scala")
    return lib, harness


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0")
        h.update(f.read_bytes() + b"\0")
    return h.hexdigest()[:20]


def scalac(classpath, out, files):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out / "scalac.args"
    log = out / "scalac.log"
    argfile.write_text("\n".join(
        ["-classpath", os.pathsep.join(map(str, classpath)), "-d", str(out), "-nowarn"]
        + [str(f) for f in files]) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx1536m", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, spark_jars())),
           "scala.tools.nsc.Main", f"@{argfile}"]
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                            timeout=SCALAC_TIMEOUT_S).returncode
    if rc != 0:
        sys.stderr.write(Path(log).read_text(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: scalac failed ({rc}); log in {log}")


def build(root):
    """Returns the classpath that runs perfbench.Main, building if needed.
    The library is keyed by its own sources, the harness by both.
    """
    root = Path(root).resolve()
    lib, harness = sources(root)
    jars = spark_jars()
    lib_key = digest(root, lib)
    lib_dir = cached(build_root(root) / f"lib-{lib_key}", lambda d: scalac(jars, d, lib))
    harness_dir = cached(build_root(root) / f"harness-{lib_key}-{digest(root, harness)}",
                         lambda d: scalac([lib_dir] + jars, d, harness))
    return os.pathsep.join([str(harness_dir), str(lib_dir), str(Path(jars[0]).parent / "*")])


def cached(target, make):
    """`target`, made by `make(dir)` into a temporary dir unless present."""
    if not (target / "done").exists():
        tmp = target.with_name(f"{target.name}.tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        (tmp / "done").write_text("ok\n")
        shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)
    return target


if __name__ == "__main__":
    print(build(Path.cwd()))
