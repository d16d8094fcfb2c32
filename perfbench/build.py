"""Build file of the benchmark: compiles the engine and the benchmark program.

The engine sources (``src/main/scala``) and the benchmark sources
(``perfbench/src``) are compiled with the Scala compiler that ships in the
Spark distribution's ``jars`` directory, so no build tool or network access
is needed. Outputs go under ``.bench_build/perfbench`` in the checkout and
are keyed by a hash of their sources, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py          # build, print the classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory (``$SPARK_HOME/jars``, else
    the one beside ``spark-submit`` on the PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark distribution not found: set SPARK_HOME")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def java_bin() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found")
    return found


def _sources(d: Path) -> list:
    files = sorted(p for p in d.rglob("*.scala") if p.is_file())
    if not files:
        raise BuildError(f"no Scala sources under {d}")
    return files


def _digest(files: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(name: str, files: list, classpath: list, jars: Path) -> Path:
    """Compile ``files`` into ``OUT/<name>-<hash>`` unless it already exists."""
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in classpath])
    target = OUT / f"{name}-{_digest(files, cp)}"
    if (target / "BUILT").exists():
        return target
    OUT.mkdir(parents=True, exist_ok=True)
    for stale in OUT.glob(f"{name}-*"):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    args = tmp / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", str(tmp), "-cp", cp, f"@{args}"]
    print(f"[perfbench] compiling {len(files)} {name} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {name} (exit {proc.returncode})")
    args.unlink()
    (tmp / "BUILT").write_text("ok\n")
    tmp.rename(target)
    return target


def build() -> list:
    """Build engine and benchmark; return the runtime classpath entries."""
    engine_src = ROOT / "src" / "main" / "scala"
    if not engine_src.is_dir():
        raise BuildError(f"engine sources not found at {engine_src}")
    jars = spark_jars()
    engine = _compile("engine", _sources(engine_src), [], jars)
    bench = _compile("bench", _sources(ROOT / "perfbench" / "src"), [engine], jars)
    return [str(bench), str(engine), str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
