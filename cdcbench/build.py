#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(`src/main/scala`) and the benchmark's JVM harness (`cdcbench/src`) with
the Scala compiler that ships in Spark's jar directory, into the build
directory. Each part is recompiled only when its sources change.

    python3 cdcbench/build.py            # from the repository root

The build directory is `$CARGO_TARGET_DIR`, or `.bench_build` when unset.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent


def build_dir() -> Path:
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("cdcbench: set SPARK_HOME (Spark's jars hold the compiler and runtime)")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"cdcbench: no scala-compiler jar under {jars}")
    return jars


def _sources(d: Path) -> list:
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(files: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(files: list, out: Path, classpath: str, jars: Path) -> None:
    stamp = _stamp(files, classpath)
    marker = out / ".stamp"
    if marker.is_file() and marker.read_text() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    args = out.parent / (out.name + ".args")
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    print(f"cdcbench: compiling {len(files)} sources into {out}", file=sys.stderr, flush=True)
    r = subprocess.run(cmd + ["@" + str(args)], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"cdcbench: compile failed ({out.name})")
    marker.write_text(stamp)


def stamp() -> str:
    """Identifies the compiled program and harness (their source hashes)."""
    classes = build_dir() / "classes"
    return "/".join((classes / d / ".stamp").read_text()[:12] for d in ("main", "bench"))


def build() -> str:
    """Compile what changed; return the runtime classpath."""
    program = _sources(ROOT / "src" / "main" / "scala")
    if not program:
        raise SystemExit("cdcbench: no program sources under src/main/scala; run from the repository root")
    jars = spark_jars()
    classes = build_dir() / "classes"
    _compile(program, classes / "main", "", jars)
    _compile(_sources(BENCH / "src"), classes / "bench", str(classes / "main"), jars)
    return os.pathsep.join([str(classes / "bench"), str(classes / "main"), str(jars / "*")])


if __name__ == "__main__":
    print(build())
