#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark jar directory, without sbt.

Outputs go under $CARGO_TARGET_DIR (default .bench_build) at the repo root:
  graft-<hash>/   engine classes
  bench-<hash>/   harness classes
Each directory is keyed by a digest of its sources (the harness's key also
covers the engine's) and reused while they are unchanged.

Usage: python3 perfbench/build.py   (prints the two class directories)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPARK_JARS = Path(os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars"))


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()[:16]


def compile_tree(tag: str, src_dir: Path, extra_cp, salt=""):
    files = sources(src_dir)
    if not files:
        raise SystemExit(f"build: no Scala sources under {src_dir}")
    key = hashlib.sha256((salt + digest(files)).encode()).hexdigest()[:16]
    out = build_dir() / f"{tag}-{key}"
    if (out / ".complete").exists():
        return out, key, False
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args_file = build_dir() / f"{tag}-{key}.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cp = os.pathsep.join([str(SPARK_JARS / "*")] + [str(p) for p in extra_cp])
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", str(out), "-classpath", cp, f"@{args_file}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    args_file.unlink()
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-6000:] + r.stderr[-6000:])
        raise SystemExit(f"build: compiling {src_dir} failed")
    (out / ".complete").write_text(key + "\n")
    return out, key, True


def build():
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS}")
    engine_src = ROOT / "src" / "main" / "scala"
    if not engine_src.is_dir():
        raise SystemExit(f"build: engine sources not found at {engine_src}")
    build_dir().mkdir(parents=True, exist_ok=True)
    engine, engine_key, c1 = compile_tree("graft", engine_src, [])
    bench, _, c2 = compile_tree("bench", ROOT / "perfbench" / "src", [engine],
                                salt=engine_key)
    return engine, bench, engine_key, c1 or c2


if __name__ == "__main__":
    e, b, _, _ = build()
    print(e)
    print(b)
