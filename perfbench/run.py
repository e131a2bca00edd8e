"""Curation benchmark: one command, one workload per run.

Usage::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cpus <n>]

Workloads: ``text-curate`` (batch curation, then streaming dedup
micro-batches) and ``mesh-per-index`` (per-index mesh jobs, then IVF
top-k search); why each exists is written in BENCHMARK.json and in its
Scala file.

The run builds the engine and the benchmark from source (``build.py``),
then starts one JVM (``perfbench.Main``) on ``local[n]``, ``n`` at most the
number of cores, one closed-loop client (the driver thread). That JVM
generates the inputs from ``--seed`` under ``.bench_work/``, sets up, runs
passes for ``--seconds`` (at least one), checks every pass against an
independent computation and writes its results. This script stamps the run
(cores used and available, load average, heap, commit, source hash), writes
the full artifact to ``.bench_results/`` and prints, as its last stdout
line, one compact JSON object: ``correct``, ``attempted``, ``failed`` and
the metrics BENCHMARK.json names (``end_to_end`` with ``--trace 0``,
``per_layer`` with ``--trace 1``). The line before it names the artifact.

End-to-end metrics (medians over the measured passes of the run):

- ``setup_s``: JVM and session start (first job included), the seeded
  input generation, and the timed part of one warm-up pass.
- ``pass_s``: wall of one pass, input to committed output; checks excluded.
- ``items_per_s``: documents (batch and arriving) or meshes completed per
  second of pass.
- ``unit_s_p50``: wall of one closed-loop unit: a streaming micro-batch
  (text-curate), a mesh index (mesh-per-index).
- ``resume_s``: the resume invocation: the skip path on the completed
  ledger plus the stream restarted with no new input (text-curate), the
  run after a seeded quarter of the indices was reset (mesh-per-index).

Per-layer metrics of a step a workload does not have (streaming on
mesh-per-index, similarity search on text-curate) read 0.

The process's resident-set peak (``VmHWM``) is recorded in the artifact
only: across seeds its quartiles spread by a quarter or more of its
median, wider than the largest regression bound (0.25) BENCHMARK.json may
set.

With ``--trace 1`` the first half of the time runs untraced and the second
half traced; the per-layer metrics come from the traced passes. The
artifact holds every span (name, start, end, parent, pass, self time) and,
per span name, self and total seconds, calls, jobs, tasks and shuffle bytes.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return float("nan")


def git_commit():
    """The checked-out commit, when the checkout is a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[n] width; default min(4, cores)")
    a = ap.parse_args()

    available = os.cpu_count() or 1
    cpus = a.cpus or min(4, available)
    if cpus > available:
        sys.exit(f"perfbench: local[{cpus}] exceeds the {available} available cores")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = spec["per_layer" if a.trace == "1" else "end_to_end"]

    load_start = loadavg()
    classes, source_stamp = build.build()
    jars = build.spark_jars()

    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    cmd = (["java", f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", os.pathsep.join([str(classes)] + jars), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cpus", str(cpus), "--work", str(work),
              "--out", str(result_file)])
    log = work.parent / f"{work.name}.log"
    t0 = time.time()
    try:
        with open(log, "w") as lf:
            subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S, cwd=ROOT)
        res = json.loads(result_file.read_text())
    except (subprocess.TimeoutExpired, OSError, ValueError) as e:
        sys.exit(f"perfbench: {a.workload} produced no result ({e}); see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0
    load_end = loadavg()

    source = res.get("per_layer" if a.trace == "1" else "end_to_end", {})
    metrics = {m["name"]: {"value": source.get(m["name"]), "unit": m["unit"]}
               for m in names}
    missing = [k for k, v in metrics.items()
               if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]]
    failed = int(res["failed"])
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": int(a.trace), "cpus_used": cpus, "cpus_available": available,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "loaded": load_start > 0.5 * available,
        "heap": HEAP, "git_commit": git_commit(), "source_sha256": source_stamp,
        "wall_s": wall,
    }
    results = ROOT / ".bench_results"
    results.mkdir(exist_ok=True)
    artifact = results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    artifact.write_text(json.dumps({"stamp": stamp, "result": res}, indent=1))

    print(f"perfbench {a.workload} seed={a.seed} loaded={stamp['loaded']} "
          f"cpus={cpus}/{available} failed_ratio={failed / max(1, res['attempted']):.4g} "
          f"artifact={artifact.relative_to(ROOT)}")
    for f in res.get("failures", [])[:5]:
        print(f"perfbench failure: {f}")
    if missing:
        # a workload that threw before measuring has no numbers to report
        sys.exit(f"perfbench: no value for {', '.join(missing)}; see {log}")
    if failed == 0:
        log.unlink()
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
