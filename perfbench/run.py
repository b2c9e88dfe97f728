#!/usr/bin/env python3
"""Repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload curation_sink --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (into `target/` and `perfbench/target/`);
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed under `.bench_build/`, the JVM runs the workload
on `local[<cpus>]`, and the outputs are checked before the metrics line is
printed. See perfbench/README.md for the workloads and metrics.

Exit status: 0 when every operation and every output check passed; 1 when
any failed (the metrics line still prints, with "correct": false); 2 when
the run could not start (no repository checkout, build failure, timeout).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("curation_sink", "rating_stream")
WORK = ROOT / ".bench_build"
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout may take 900 s
HEAP = "3g"

# Inputs. curation_sink reads the declared sf0.1 `documents` fixture
# (committed under data/), so its corpus has a recorded answer. --seed
# generates the rating waves; a run stops early when it has delivered
# them all.
DATA = HERE / "data"
ACCOUNTS = 2000
WAVE_LEGS = 10000
WAVES = 6

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "cold_s": "s",
             "heap_peak_mb": "MB"}
EXPECTED = json.loads((HERE / "expected.json").read_text())

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def sources_digest():
    """Digest of every file the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; returns the
    runtime classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = sources_digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = WORK / "logs" / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = log.read_text().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and ":" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cp:
        fail(f"build failed; see {log}")
    cp_file.write_text(cp[-1].strip())
    stamp.write_text(digest)
    return cp[-1].strip()


def make_inputs(workload, seed):
    """The input directory of the workload, generated from the seed where
    the workload has generated inputs."""
    if workload == "curation_sink":
        return DATA
    data = WORK / "inputs" / workload
    shutil.rmtree(data, ignore_errors=True)
    gen.waves(data / "waves", seed, [("wave", WAVE_LEGS)] * WAVES, ACCOUNTS)
    return data


def run_jvm(cp, args, data, work, raw, log, deadline):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus()), "--data", str(data), "--work", str(work),
            "--out", str(raw)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload timed out; see {log}")


def timed_ops(raw):
    """The operations of the timed passes (the cold pass is numbered -1)."""
    return [o for o in raw["ops"] if o["pass"] >= 0]


def end_to_end(workload, raw, gen_s):
    """The end-to-end metrics, and the sample counts behind them."""
    ops = timed_ops(raw)
    m = {"setup_s": gen_s + statistics.median(r["setup_s"] for r in raw["setup_rounds"]),
         "cold_s": raw["cold_s"], "heap_peak_mb": raw["heap_peak_mb"]}
    if workload == "curation_sink":
        passes = [o["s"] for o in ops if o["kind"] == "run"]
        op_times = [o["s"] for o in ops if o["kind"] == "stage"]
    else:
        passes = [o["s"] for o in ops]
        op_times = [s for o in ops for s in o["stages"].values()]
    m["pass_s"] = statistics.median(passes)
    m["op_p50_s"] = statistics.median(op_times)
    return m, {"passes": len(passes), "op_samples": len(op_times),
               "supported_percentile": stats.supported_percentile(len(op_times))}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} is not a checkout of the repository (no build.sbt / src/main/scala)")
    for d in ("logs", "results"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    cp = build()
    deadline = max(deadline, time.monotonic() + 120)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.time()
    data = make_inputs(args.workload, args.seed)
    gen_s = time.time() - t0
    raw_file, log = work / "raw.json", WORK / "logs" / f"{tag}.log"
    code = run_jvm(cp, args, data, work, raw_file, log, deadline)
    if code != 0 or not raw_file.exists():
        fail(f"workload failed (exit {code}); see {log}", 1)
    raw = json.loads(raw_file.read_text())

    checks = {k: (v["ok"], v["detail"]) for k, v in raw["checks"].items()}
    if args.workload == "curation_sink":
        import oracle  # pandas: only this workload needs it
        rows, digest = oracle.corpus(work / "curation" / "corpus")
        want = EXPECTED["curation_corpus"]
        checks["curation_corpus"] = (
            rows == want["rows"] and digest == want["hash"],
            f"{rows} rows, hash {digest} (expected {want['rows']}, {want['hash']})")
    failed = [k for k, (ok, _) in checks.items() if not ok]
    for k in failed:
        print(f"perfbench: check {k} failed: {checks[k][1]}", file=sys.stderr)

    if args.trace:
        metrics, detail = layers.compute(raw, work)
        units = layers.UNITS
    else:
        metrics, detail = end_to_end(args.workload, raw, gen_s)
        units = E2E_UNITS
    attempted = len(timed_ops(raw)) + len(checks)
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed),
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    (WORK / "results" / f"{tag}.json").write_text(json.dumps({
        **result, "workload": args.workload, "seed": args.seed,
        "checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in checks.items()},
        "ops": raw["ops"], "setup_rounds": raw["setup_rounds"], "gen_s": gen_s,
        "detail": detail}, indent=1))
    print(json.dumps(result))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
