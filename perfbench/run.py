#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py, off the clock), then
runs one JVM that drives a local[nproc] Spark session from a single thread,
one action at a time (a closed loop with one client). The last line of
stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(see BENCHMARK.json and perfbench/README.md).

Everything the run writes stays under the build directory ($CARGO_TARGET_DIR,
default .bench_build): run/ is emptied at the start of every run, and
results/<workload>-seed<n>-trace<t>/ keeps the run's provenance and spans.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("pipeline_tokenize", "dedup_neardup")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb() -> int:
    """Half of MemTotal in GiB, clamped to [2, 8] (the tier-1 test rule)."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def git_sha() -> str:
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    sys.path.insert(0, str(HERE))
    import build
    engine, bench, src_key, built_now = build.build()
    bdir = build.build_dir()

    run_dir = bdir / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "checkpoints", "input"):
        (run_dir / d).mkdir(parents=True)
    subprocess.run([sys.executable, str(HERE / "gen.py"), a.workload,
                   str(a.seed), str(run_dir / "input")], check=True)

    cores = len(os.sched_getaffinity(0))
    result = run_dir / "result.json"
    cp = os.pathsep.join([str(engine), str(bench), "/opt/spark/jars/*"])
    # The heap layout is pinned so that peak_rss_mb follows the program's
    # peak heap occupancy rather than G1's timing-driven choices: -Xms = -Xmx
    # stops G1 from growing the heap when its GC time share is high (which
    # depends on the machine's speed), -Xmn fixes the young generation, and
    # 32 MB regions keep the tokenizer's multi-megabyte arrays out of
    # humongous regions, whose placement varied from run to run. Without
    # these, the ten-seed spread of peak RSS reached 0.29 of its median;
    # with them it stays near 0.02. -Xms commits the heap but does not
    # touch it.
    heap = f"{heap_gb()}g"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g",
            "-XX:G1HeapRegionSize=32m", "-Xss4m",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores),
              "--input", str(run_dir / "input"),
              "--tables", str(HERE / "data" / "sf0.01"),
              "--catalog", str(HERE / "catalog"),
              "--scratch", str(run_dir),
              "--out", str(result)])
    env = dict(os.environ, PERFBENCH_GIT_SHA=git_sha(),
               PERFBENCH_SRC_DIGEST=src_key)
    budget = (880 if built_now else 175) - (time.monotonic() - t_start)
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not result.exists():
        sys.stderr.write(log_path.read_text()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({rc})")

    keep = bdir / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(keep, ignore_errors=True)
    keep.mkdir(parents=True)
    for f in ("provenance.json", "spans.json", "jvm.log"):
        if (run_dir / f).exists():
            shutil.copy(run_dir / f, keep / f)
    for line in log_path.read_text().splitlines():
        if line.startswith("[perfbench]"):
            sys.stderr.write(line + "\n")
    prov = json.loads((run_dir / "provenance.json").read_text())
    sys.stderr.write("provenance: " + json.dumps(
        {k: prov[k] for k in ("git_sha", "engine_src_digest", "cores",
                              "heap_max_mb", "spark_version", "seed")}) + "\n")
    line = result.read_text().strip()
    got = set(json.loads(line)["metrics"])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if got != want:
        raise SystemExit(f"perfbench: metrics {sorted(got ^ want)} do not match "
                         "BENCHMARK.json")
    print(line)


if __name__ == "__main__":
    main()
