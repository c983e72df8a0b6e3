#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

Run one workload (from the root of a checkout):

    python3 perfbench/run.py --workload <sweep|queries> --seed <n> \
        --seconds <s> --trace <0|1>

It builds the program and the harness from source (once per checkout; a
stamp of the build inputs and of the compiled classes skips later
builds), launches one JVM directly (fixed heap, local[<cores>]) that runs
the workload as a closed loop of one client, checks every op's output,
and prints as its last stdout line one JSON object: {"correct",
"attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics (listener counters and layer timings; a layer the
workload never calls reads 0). Details go to stderr.

Other commands:

    python3 perfbench/run.py compare --parent <checkout> --change <checkout> \
        [--workloads sweep,queries]
        ten alternating parent/change pairs per workload, each run as long
        as BENCHMARK.json's run_seconds; each side's median
        and quartiles per end-to-end metric, "better" only when the change
        wins 9 in 10 pairs by more than the parent's quartile spread, and
        "unresolved" where that spread exceeds the metric's bound.
    python3 perfbench/run.py overhead --workload <w>
        five traced against five untraced runs: the tracing overhead on op
        latency.
    python3 perfbench/run.py record [--dumps <graft.Verify output dir>]
        re-record perfbench/expected.json (checksums of checked queries),
        each checked against its oracle-passed Verify dump when given.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
WORK = BENCH / ".work"
DATA = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "expected.json"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None
HEAP = "4g"
RUN_LIMIT_S = 170  # the JVM is killed past this; the run then fails
PAIRS = 10  # compare: parent/change pairs per workload (the 9-in-10 rule)
OVERHEAD_RUNS = 5  # overhead: traced and untraced runs each
SPARK_JARS = "/opt/spark/jars"  # the root build.sbt's unmanagedBase, as in tools/runjvm.sh
CLASSES = [ROOT / "target" / "scala-2.13" / "classes",
           HARNESS / "target" / "scala-2.13" / "classes"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def build_inputs():
    files = [ROOT / "build.sbt"]
    for d, pats in ((ROOT / "project", ("*.sbt", "*.properties", "*.scala")),
                    (ROOT / "src" / "main", ("**/*",)),
                    (HARNESS, ("build.sbt", "project/*.properties", "src/**/*"))):
        for pat in pats:
            files += [p for p in d.glob(pat) if p.is_file()]
    h = hashlib.sha256()
    for p in sorted(set(files)):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def build_outputs():
    """Paths, sizes and mtimes of every compiled class: any other compile
    into these directories (say the root build's at another revision)
    changes it."""
    h = hashlib.sha256()
    for c in CLASSES:
        for p in sorted(c.rglob("*")):
            st = p.stat()
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt, unless the stamp says current:
    the same sources, and the classes exactly as that build left them."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program source to build at {ROOT}")
    if not DATA.is_dir():
        fail(f"input data missing: {DATA}")
    WORK.mkdir(exist_ok=True)
    stamp_file = WORK / "build.stamp"
    stamp = build_inputs()
    if all(c.is_dir() for c in CLASSES) and stamp_file.exists() \
            and stamp_file.read_text() == f"{stamp}\n{build_outputs()}":
        return
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    stamp_file.write_text(f"{stamp}\n{build_outputs()}")
    log(f"perfbench: built in {time.time() - t0:.1f} s")


def cpu_times():
    """The host's aggregate CPU counters (Linux), or None."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError):
        return None


def harness(args, timeout=RUN_LIMIT_S):
    """Run the harness JVM; returns its exit code. Output goes to a log."""
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = ":".join([str(c) for c in CLASSES] + [f"{SPARK_JARS}/*"])
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Harness",
           "--data", str(DATA), "--work", str(WORK), "--expect", str(EXPECTED),
           "--launch-ms", str(int(time.time() * 1000)), *args]
    c0 = cpu_times()
    with open(WORK / "harness.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"perfbench: harness killed after {timeout} s")
            rc = -9
    c1 = cpu_times()
    if c0 and c1 and len(c1) > 7 and sum(c1) > sum(c0):
        # time the hypervisor ran other guests on this VM's CPUs: a run with
        # a large share was slowed by the host, not by the program
        log(f"perfbench: host steal {(c1[7] - c0[7]) / (sum(c1) - sum(c0)):.1%} "
            "of CPU time during the run")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(WORK / "corpora", ignore_errors=True)
    if rc != 0:
        log("".join(open(WORK / "harness.log").readlines()[-30:]))
    return rc


def quantile_tail(lat):
    """The highest percentile with at least ten samples beyond it."""
    n = len(lat)
    if n < 20:
        return None
    p = 1 - 10 / n
    s = sorted(lat)
    return p * 100, s[min(n - 1, int(p * n))]


def run_workload(a):
    if SPEC is None:
        fail("BENCHMARK.json not found")
    if a.workload not in [w["name"] for w in SPEC["workloads"]]:
        fail(f"unknown workload {a.workload}")
    build()
    report_path = WORK / f"report_{a.workload}.json"
    report_path.unlink(missing_ok=True)
    rc = harness(["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--report", str(report_path)])
    if rc != 0 or not report_path.exists():
        fail(f"harness exited with {rc}")
    rep = json.loads(report_path.read_text())
    ops = rep["ops"]
    timed = [o for o in ops if o["timed"]]
    lat = [o["latency_s"] for o in timed]
    errors = [o for o in ops if o["error"]]
    for o in errors:
        log(f"perfbench: FAILED op {o['name']} (round {o['round']}): {o['error']}")
    names = sorted({o["name"] for o in timed})
    log(f"perfbench: {a.workload} seed {a.seed}: {len(ops) - len(timed)} untimed ops, "
        f"{len(timed)} timed ops ({len(names)} distinct) in {rep['measured_s']:.1f} s")
    tail = quantile_tail(lat)
    if tail:
        log(f"perfbench: latency p{tail[0]:.1f} = {tail[1]:.3f} s over {len(lat)} ops")
    if a.trace:
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        got = rep["layers"]
        if set(got) != set(want):
            fail(f"layer metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
        metrics = {k: {"value": got[k], "unit": u} for k, u in want.items()}
    else:
        values = {
            "setup_s": rep["setup_s"],
            "latency_p50_s": statistics.median(lat),
            "throughput_per_s": sum(o["work"] for o in timed) / sum(lat),
            "peak_live_heap_mb": rep["peak_live_heap_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    print(json.dumps({"correct": not errors and bool(timed), "attempted": len(ops),
                      "failed": len(errors), "metrics": metrics}))
    return 0 if not errors else 1


# ---- compare: parent against change ----------------------------------------

def one_run(checkout, workload, seed):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                        "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    if r.returncode != 0 or not res or not res["correct"]:
        raise SystemExit(f"run failed in {checkout}: {workload} seed {seed}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def compare(a):
    def bench_code(checkout):
        files = [Path(checkout) / "BENCHMARK.json", Path(checkout) / "perfbench" / "run.py"]
        files += sorted((Path(checkout) / "perfbench" / "harness").glob("src/**/*.scala"))
        return hashlib.sha256(b"".join(p.read_bytes() for p in files if p.exists())).hexdigest()
    if bench_code(a.parent) != bench_code(a.change):
        log("perfbench: WARNING the two checkouts carry different benchmark code")
    bounds = {m["name"]: m for m in SPEC["end_to_end"]}
    for w in a.workloads.split(","):
        runs = {"parent": [], "change": []}
        for i in range(PAIRS):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(one_run(getattr(a, side), w, 1000 + i))
        print(f"\n{w}: {PAIRS} pairs, {SPEC['run_seconds']} s runs")
        print(f"{'metric':18} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}  wins  verdict")
        for name, m in bounds.items():
            pv = [r[name] for r in runs["parent"]]
            cv = [r[name] for r in runs["change"]]
            sign = -1 if m["better"] == "lower" else 1
            wins = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0)
            pq, cq = statistics.quantiles(pv, n=4), statistics.quantiles(cv, n=4)
            spread = (pq[2] - pq[0]) / pq[1]
            delta = sign * (cq[1] - pq[1])
            if wins >= 0.9 * PAIRS and delta > pq[2] - pq[0]:
                verdict = "better"
            elif all(sign * (c - p) > 0 for c in cv for p in pv):
                verdict = "better (every run)"
            elif spread > m["bound"]:
                verdict = f"unresolved (spread {spread:.1%} > bound)"
            elif -delta > m["bound"] * pq[1]:
                verdict = "WORSE beyond bound"
            else:
                verdict = "within bound"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{name:18} {fmt(pq):>28} {fmt(cq):>28} {wins:3d}/{PAIRS}  {verdict}")


def overhead(a):
    """Median op latency of traced runs against untraced runs."""
    build()
    lat = {"0": [], "1": []}
    for i in range(OVERHEAD_RUNS):
        for trace in ("0", "1"):
            r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                                "--seed", str(2000 + i), "--seconds", str(SPEC["run_seconds"]),
                                "--trace", trace], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            m = json.loads(r.stdout.strip().splitlines()[-1])["metrics"]
            lat[trace].append(m["latency_p50_s" if trace == "0" else "traced.latency_p50_s"]["value"])
    u, t = statistics.median(lat["0"]), statistics.median(lat["1"])
    print(f"{a.workload}: untraced p50 {u:.4f} s, traced p50 {t:.4f} s, "
          f"overhead {t / u - 1:+.1%} over {OVERHEAD_RUNS} runs each")


def record(a):
    build()
    out = WORK / "expected.json"
    dumps = ["--dumps", a.dumps] if a.dumps else []
    if harness(["--record", str(out), *dumps], timeout=900) != 0:
        fail("record failed")
    shutil.copy(out, EXPECTED)
    log(f"perfbench: wrote {EXPECTED}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] in ("compare", "overhead", "record"):
        cmd = sys.argv.pop(1)
        p = argparse.ArgumentParser(prog=f"run.py {cmd}")
        if cmd == "compare":
            p.add_argument("--parent", required=True)
            p.add_argument("--change", required=True)
            p.add_argument("--workloads",
                           default=",".join(w["name"] for w in SPEC["workloads"]))
            return compare(p.parse_args())
        if cmd == "overhead":
            p.add_argument("--workload", required=True)
            return overhead(p.parse_args())
        p.add_argument("--dumps", help="graft.Verify output dir, checked by tools/compare.py")
        return record(p.parse_args())
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sys.exit(run_workload(p.parse_args()))


if __name__ == "__main__":
    main()
