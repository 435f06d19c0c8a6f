#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_fit --seed 1 --seconds 20 --trace 0

Builds the harness (and through it the program) if its sources changed,
generates the workload's inputs from the seed, runs the workload in one
JVM on a local[nproc] Spark session, checks the outputs apart from the
program, and prints one JSON object as the last line of standard output.
With --trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer metrics. Artifacts of the last run of each workload are left
in perfbench/out/<workload>/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import gen  # noqa: E402

# rows of the training table and of the production batch, per workload
SIZES = {"batch_fit": (50_000, 0), "score_monitor": (20_000, 10_000)}
# per-op figures: printed, and reported as per-layer "op.*" metrics
OP_FIGURES = ["process_fit_s", "constrained_fit_s", "scorecard_fit_s",
              "score_s", "psi_s", "sketch_refresh_s"]
RUN_LIMIT_S = 170


T0 = time.time()


def log(msg):
    print(f"[perfbench] {time.time() - T0:6.1f} {msg}", file=sys.stderr,
          flush=True)


def source_stamp():
    """Digest of everything the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    target = BENCH / "target"
    stamp_file = target / "source_stamp.txt"
    stamp = source_stamp()
    launch = [target / "classpath.txt", target / "java_options.txt"]
    if stamp_file.is_file() and stamp_file.read_text() == stamp and \
            all(p.is_file() for p in launch):
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the harness and the program")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "writeLaunchFiles"], cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=sys.stderr, stderr=sys.stderr,
        timeout=max(10, deadline - time.time()))
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({proc.returncode})")
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def heap_size():
    """Half the machine's memory, between 2 and 8 GiB: the same rule the
    repository's test command uses for SPARK_DRIVER_MEM."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(args, cpus, data_dir, out_dir, deadline):
    target = BENCH / "target"
    cp = (target / "classpath.txt").read_text().strip()
    opts = [o for o in (target / "java_options.txt").read_text().split("\n")
            if o and not o.startswith("-Xmx")]
    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *opts, f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(data_dir), "--out", str(out_dir), "--cpus", str(cpus)]
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise SystemExit(f"perfbench: the JVM exited with {code}")
    return json.loads((out_dir / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"perfbench: no program sources under {ROOT}")
    build(t_start + 840)

    out_dir = BENCH / "out" / args.workload
    shutil.rmtree(out_dir, ignore_errors=True)
    data_dir = out_dir / "data"
    data_dir.mkdir(parents=True)
    n_train, n_batch = SIZES[args.workload]
    t0 = time.time()
    gen.generate(args.seed, str(data_dir), n_train, n_batch)
    if args.workload == "score_monitor":
        (data_dir / "probe").mkdir()
        gen.generate(gen.PROBE_SEED, str(data_dir / "probe"),
                     *gen.PROBE_SIZES)
    log(f"inputs generated in {time.time() - t0:.1f} s")

    cpus = len(os.sched_getaffinity(0))
    result = run_jvm(args, cpus, data_dir, out_dir,
                     time.time() + RUN_LIMIT_S - 20)
    log("JVM finished")
    t0 = time.time()
    results = checks.run_checks(result, str(data_dir))
    probe = checks.run_probe_checks(result, str(data_dir))
    log(f"checks took {time.time() - t0:.1f} s")
    correct = all(ok for _, ok, _ in results)
    for name, ok, detail in results + probe:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    for e in result["errors"]:
        log(f"operation error: {e}")
    (out_dir / "checks.json").write_text(json.dumps(
        [{"check": n, "ok": bool(ok), "detail": d}
         for n, ok, d in results + probe], indent=1))
    # a probe whose outputs fail their checks is a failed operation, in
    # every round it ran (its outputs are the same in every round)
    failed = result["failed"]
    if not all(ok for _, ok, _ in probe):
        failed += sum(1 for o in result["ops"] if o["op"] == "probe" and o["ok"])

    ops = result["e2e_traced" if args.trace else "e2e_untraced"]
    for name in OP_FIGURES:
        if name in ops:
            print(f"op {name} = {ops[name]:.6g} s")
    if args.trace:
        layers = dict(result["layers"])
        for name in OP_FIGURES:
            layers[f"op.{name}"] = ops.get(name, 0.0)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(layers.items())}
        for m in ["round_s", "cpu_s"] + OP_FIGURES:
            v = result["e2e_untraced"].get(m)
            if v is None:
                continue
            over = result["e2e_traced"][m] - v
            print(f"tracing overhead {m}: {over:+.4f} s "
                  f"({100 * over / v:+.1f}% of {v:.4f} s)")
    else:
        metrics = {
            "round_s": {"value": ops["round_s"], "unit": "s"},
            "cpu_s": {"value": ops["cpu_s"], "unit": "s"},
            "setup_s": {"value": statistics.median(result["setup_cpu_s"]),
                        "unit": "s"}}
        print(f"fit wall = {ops['fit_s']:.6g} s, cold round wall = "
              f"{result['cold_round_s']:.6g} s, set-up wall = "
              f"{statistics.median(result['setup_s']):.6g} s, "
              f"JIT CPU = {ops['jit_s']:.6g} s, GC CPU = "
              f"{ops['gc_cpu_s']:.6g} s, "
              f"peak RSS = {result['peak_rss_mb']:.6g} MiB")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_s") or name == "write.s":
        return "s"
    if name.endswith("_bytes") or name == "write.bytes":
        return "bytes"
    return "count"


if __name__ == "__main__":
    main()
