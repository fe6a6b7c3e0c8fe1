#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload mr_envelope --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout of the repository. It builds the engine
and the benchmark's timing program from source (cached by a hash of the
sources), generates the workload's inputs from the seed, runs the timing
program in one JVM, checks every output against an independent oracle, and
prints one JSON object as the last line of standard output:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (see README.md). Every run also writes its own
artifact, stamped with a hash of the engine's sources, under
``.bench_work/artifacts/``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import inputs
import metrics
import oracle
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"

# Pinned and pre-touched heap: the engine's own fallback (24g) is sized for
# a 125 GB host, and a fixed, touched heap keeps peak RSS from following GC
# timing.
HEAP = "2g"
RUN_LIMIT_S = 170        # one run, build excluded
REDUCER = ROOT / "src/main/resources/graft/exec/wc_reduce.sh"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def code_id():
    """Hash of the engine's sources and build file (not of a commit)."""
    return tree_hash([ROOT / "src", ROOT / "build.sbt"])[:16]


def build():
    """Compile the engine and perfbench.Main; return the classpath."""
    build_files = [p for d in (ROOT / "project", HERE / "project")
                   for p in sorted(d.glob("*")) if p.is_file()]
    stamp = tree_hash([ROOT / "src/main", ROOT / "build.sbt", HERE / "build.sbt",
                       HERE / "src", *build_files])
    cp_file, stamp_file = BUILD_DIR / "classpath", BUILD_DIR / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    log("building the engine and perfbench with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        f"{Path.home()}/.sbt/repositories -Dsbt.offline=true -Xmx2g"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    cps = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    return cps[-1].strip()


def scratch_leak(root):
    """(MB, dirs) left under the scratch root after the JVM exited; dirs are
    the entries one level below each top-level scratch directory."""
    total, dirs = 0, 0
    for top in root.iterdir() if root.exists() else []:
        if top.is_dir():
            dirs += sum(1 for _ in top.iterdir())
    for p in root.rglob("*"):
        if p.is_file():
            total += p.stat().st_size
    return total / 2**20, dirs


def mr_oracle(seed, input_dir):
    """Expected part-file hashes for this seed, built once and cached."""
    key = tree_hash([REDUCER, HERE / "inputs.py"])[:12]
    cache = WORK / "oracle" / f"mr-{seed}-{key}.json"
    if not cache.exists():
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.write_text(json.dumps(oracle.mr_expected(input_dir, str(REDUCER), 2)))
    return json.loads(cache.read_text())


def run_jvm(args, spec, cp, cpus, run_dir, deadline):
    """Run perfbench.Main in its own JVM; return (record, launch time)."""
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
              "-Duser.timezone=UTC", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cpus", str(cpus),
              "--input", str(run_dir / "input"), "--out", str(run_dir),
              "--reducer", str(REDUCER), "--min-passes", str(spec["min_passes"])]
           + (["--queries", ",".join(spec["queries"])] if spec["queries"] else []))
    env = dict(os.environ, GRAFT_LOCAL_DIR=str(run_dir / "scratch"))
    launched = time.time()
    with open(run_dir / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: the benchmark JVM timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    record_path = run_dir / "record.json"
    if proc.returncode != 0 or not record_path.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: the benchmark JVM failed (exit {proc.returncode})")
    return json.loads(record_path.read_text()), launched


def check_outputs(args, spec, record, run_dir, expected):
    """(warm-up outputs ok, {job id: ok}, per-query verdicts)."""
    if args.workload == "mr_envelope":
        warm_ok = all(oracle.mr_check(d, expected) for d in record["warm_outputs"])
        job_ok = {j["id"]: j["error"] is None and oracle.mr_check(j["output"], expected)
                  for j in record["jobs"]}
        return warm_ok, job_ok, {}
    verdicts = oracle.compare_queries(run_dir / "input", run_dir / "results", spec["queries"])
    for name, (ok, _, msg) in verdicts.items():
        if not ok:
            log(f"check failed: {name}: {msg}")
    job_ok = {j["id"]: j["error"] is None and verdicts[j["name"]][0]
              and j["rows"] == verdicts[j["name"]][1] for j in record["jobs"]}
    return all(v[0] for v in verdicts.values()), job_ok, verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main").is_dir():
        raise SystemExit(f"perfbench: no engine sources under {ROOT}")

    cp = build()
    deadline = time.time() + RUN_LIMIT_S - 15   # leaves time for the checks
    spec = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1e3)}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    log(f"run {run_id}: local[{cpus}], heap {HEAP}")
    try:
        for d in ("input", "scratch", "tmp"):
            (run_dir / d).mkdir(parents=True)
        # Inputs from the seed: timed, part of set-up.
        t0 = time.time()
        if args.workload == "mr_envelope":
            inputs.write_mr_envelope(args.seed, run_dir / "input")
        else:
            inputs.write_tables(args.seed, spec["sf"], run_dir / "input")
        gen_s = time.time() - t0
        expected = mr_oracle(args.seed, run_dir / "input") if args.workload == "mr_envelope" else None

        record, launched = run_jvm(args, spec, cp, cpus, run_dir, deadline)
        leak = scratch_leak(run_dir / "scratch")
        warm_ok, job_ok, verdicts = check_outputs(args, spec, record, run_dir, expected)
        sink_bytes = {j["id"]: sum(p.stat().st_size for p in Path(j["output"]).glob("part-*"))
                      for j in record["jobs"] if j["output"]}
        setup_s = gen_s + (record["setup_end"] - launched)
        result, artifact = metrics.compute(
            args.workload, record, job_ok, setup_s=setup_s, cpus=cpus, leak=leak,
            traced=bool(args.trace), sink_bytes=sink_bytes)
    finally:
        # Drop inputs, outputs and scratch, so later runs start from the same state.
        shutil.rmtree(run_dir, ignore_errors=True)

    artifact["stamp"] = {
        "code_id": code_id(), "nproc": cpus, "master": f"local[{cpus}]",
        "heap": HEAP, "sf": spec["sf"], "seed": args.seed,
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds}
    artifact["input"] = ({"lines": inputs.MR_LINES, "files": inputs.MR_FILES,
                          "vocab": inputs.MR_VOCAB, "zipf_s": inputs.MR_ZIPF_S,
                          "why": inputs.MR_CHOICES}
                         if args.workload == "mr_envelope"
                         else {"rows": inputs.table_rows(spec["sf"])})
    artifact["setup"] = {"input_s": gen_s, "session_s": record["session_s"],
                         "warm_s": record["warm_s"], "setup_s": setup_s}
    artifact["checks"] = {"warm_ok": warm_ok,
                          "queries": {k: list(v) for k, v in verdicts.items()}}
    (WORK / "artifacts").mkdir(parents=True, exist_ok=True)
    (WORK / "artifacts" / f"{run_id}.json").write_text(json.dumps(artifact, indent=1))

    result["correct"] = bool(warm_ok and all(job_ok.values()))
    for line in metrics.summary(result, artifact):
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
