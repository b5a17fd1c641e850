"""Build file of the benchmark: compiles the program and the harness.

The program (``src/main/scala``) and the harness (``graftbench/scala``) are
compiled with the Scala compiler that ships among the Spark jars, so no
build tool and no dependency resolution is needed. Each half is cached
under ``.bench_build/graftbench/`` by a hash of its sources, so only the
first run in a checkout pays for the build.

    python3 graftbench/build.py      # build, print the runtime classpath
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = pathlib.Path(__file__).resolve().parent
BUILD_DIR = ROOT / ".bench_build" / "graftbench"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """The Spark distribution's jar directory: ``$SPARK_HOME/jars``, else
    the one next to ``spark-submit`` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def _jar(jars: pathlib.Path, prefix: str) -> pathlib.Path:
    found = sorted(jars.glob(prefix + "*.jar"))
    if not found:
        raise BuildError(f"{prefix}*.jar missing from {jars}")
    return found[-1]


def _sources(directory: pathlib.Path) -> list:
    return sorted(p for p in directory.rglob("*.scala") if p.is_file())


def _digest(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:20]


def _compile(name: str, sources: list, classpath: str, extra_key: str = "") -> pathlib.Path:
    """Compiles ``sources`` into a directory keyed by their hash, once."""
    if not sources:
        raise BuildError(f"no Scala sources for {name}")
    out = BUILD_DIR / f"{name}-{_digest(sources, extra_key)}"
    if (out / ".done").exists():
        return out
    jars = spark_jars()
    compiler = os.pathsep.join(
        str(_jar(jars, p)) for p in ("scala-compiler-", "scala-library-", "scala-reflect-")
    )
    tmp = BUILD_DIR / f".{out.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = tmp / "sources.txt"
    args_file.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", classpath, "@" + str(args_file)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    args_file.unlink()
    (tmp / ".done").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def ensure_built() -> str:
    """Builds what is missing and returns the runtime classpath."""
    program_src = ROOT / "src" / "main" / "scala"
    resources = ROOT / "src" / "main" / "resources"
    if not program_src.is_dir():
        raise BuildError(f"program sources not found under {program_src.relative_to(ROOT)}")
    spark_cp = str(spark_jars() / "*")
    program = _compile("program", _sources(program_src), spark_cp)
    harness = _compile("harness", _sources(BENCH / "scala"),
                       os.pathsep.join([str(program), spark_cp]), extra_key=program.name)
    return os.pathsep.join([str(harness), str(program), str(resources), spark_cp])


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
