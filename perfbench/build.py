#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources of the checkout (``src/main/scala``) together
with the benchmark's own (``perfbench/src/main/scala``) into
``.bench_build/perfbench/classes``, with the Scala compiler that ships among
Spark's jars (the same jar directory the project's ``build.sbt`` compiles
against). A content stamp skips the compile when no source changed.

    python3 perfbench/build.py           # build
    python3 perfbench/build.py --test    # build, then run the helper tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def jar_dir() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        if list(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(kind: str) -> list:
    roots = [ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"]
    if kind == "test":
        roots = [HERE / "src" / "test" / "scala"]
    for r in roots:
        if not r.is_dir():
            raise BuildError(f"missing source directory {r.relative_to(ROOT)}: "
                             "run from a checkout of the repository")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def _stamp(files, jars) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def _compile(files, classpath, dest: Path, jars_dir: Path, stamp: str) -> None:
    stamp_file = dest.parent / (dest.name + ".stamp")
    if dest.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    tmp = dest.parent / (dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(next(jars_dir.glob(f"{n}-*.jar")))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    argfile = dest.parent / (dest.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.pathsep.join(classpath), "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-8000:])
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp_file.write_text(stamp)


def build(test: bool = False) -> str:
    """Compile what is stale and return the runtime classpath."""
    main = sources("main")
    jars_dir = jar_dir()
    jars = sorted(jars_dir.glob("*.jar"))
    OUT.mkdir(parents=True, exist_ok=True)
    classes = OUT / "classes"
    _compile(main, [str(j) for j in jars], classes, jars_dir, _stamp(main, jars))
    cp = [str(classes)] + [str(j) for j in jars]
    if test:
        tests = sources("test")
        test_classes = OUT / "test-classes"
        _compile(tests, cp, test_classes, jars_dir, _stamp(main + tests, jars))
        cp = [str(test_classes)] + cp
    return os.pathsep.join(cp)


def main() -> int:
    test = "--test" in sys.argv[1:]
    try:
        cp = build(test)
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if not test:
        return 0
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.HelpersTest"]).returncode


if __name__ == "__main__":
    sys.exit(main())
