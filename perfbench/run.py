#!/usr/bin/env python3
"""Benchmark of the flight-price ETL engine: the paper's full refresh,
CDC replication onto a snapshot table, and snapshot reads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (cached under `.bench_build/` until a source changes).
Each run generates its inputs from the seed in a fresh directory under
`.bench_tmp/`, runs one benchmark JVM, checks the outputs with DuckDB,
removes the directory, writes a record to `.bench_results/`, and prints
every metric by name with its unit. The last line of stdout is the
result as one JSON object.

`--trace 0` reports the end-to-end metrics of the named workload.
`--trace 1` runs the traced pass of every workload and reports the
per-layer metrics; see perfbench/README.md. The workloads and metric
names come from BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.path.dirname(HERE)
# workloads and metric names with their units, as BENCHMARK.json defines them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = tuple(w["name"] for w in BENCH["workloads"])
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
# Input size: orders in the generated lineitem (about 4 lines per order).
ORDERS = 25_000
# Spark runs local[CORES]: the machine's cores, at most 4.
CORES = min(4, os.cpu_count() or 1)
FEED_EPOCHS = 96
DRIVER_MEM = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash(root: str) -> str:
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
            "perfbench/src"]
    for top in tops:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base)
            if "/target" not in d.replace(root, "") for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.replace(root, "").encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root: str) -> str:
    """Compile the program and the benchmark; returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "sources.sha256"), os.path.join(out, "classpath.txt")
    want = source_hash(root)
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = r.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-6000:] + r.stderr[-3000:])
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def git_commit(root: str) -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def loadavg() -> list:
    return list(os.getloadavg())


def run_jvm(cp: str, args: list, tmp: str, deadline: float) -> None:
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{DRIVER_MEM}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={jtmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    logf = os.path.join(tmp, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=tmp,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    with open(logf) as f:
        jvm_log = f.read()
    if rc != 0:
        sys.stderr.write(jvm_log[-8000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    for line in jvm_log.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    root = ROOT
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"no program sources here: {os.path.join(root, need)} is missing")
    import duckdb  # noqa: E402  (imported after the source check so a bare dir fails fast)
    import checks
    import datagen

    cp = build(root)
    # the run, without the build, must end within 180 s
    deadline = time.time() + JVM_TIMEOUT_S
    load0 = loadavg()
    os.makedirs(os.path.join(root, ".bench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=os.path.join(root, ".bench_tmp"))
    try:
        con = duckdb.connect()
        con.execute("SET threads = 2")
        data = os.path.join(tmp, "data")
        needs_feed = a.trace or a.workload == "cdc_replicate"
        inputs = datagen.generate(con, data, a.seed, ORDERS, FEED_EPOCHS if needs_feed else 0)
        log(f"inputs ready at {time.time() - started:.1f} s")
        out = os.path.join(tmp, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data, "--work", os.path.join(tmp, "work"), "--out", out,
                     "--cores", str(CORES)], tmp, deadline)
        log(f"benchmark JVM done at {time.time() - started:.1f} s")
        with open(out) as f:
            rec = json.load(f)
        outputs, problems = rec["outputs"], []
        failed = rec["failed"]
        if "etl_table" in outputs:
            bad = checks.check_etl(con, data, outputs)
            problems += bad
            if bad:
                failed += outputs["etl_loads"]
        if "cdc_replica" in outputs:
            bad, bad_reads = checks.check_cdc(con, outputs)
            problems += bad
            failed += bad_reads + (1 if bad and not bad_reads else 0)
        con.close()
        log(f"checks done at {time.time() - started:.1f} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    units = PER_LAYER if a.trace else END_TO_END
    missing = [m for m in units if m not in rec["metrics"]]
    if missing:
        raise SystemExit(f"benchmark JVM did not report {missing}")
    metrics = {m: {"value": rec["metrics"][m], "unit": u} for m, u in units.items()}
    attempted = max(1, rec["attempted"])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "inputs": inputs, "cores_N": CORES, "nproc": os.cpu_count(),
        "driver_memory": DRIVER_MEM, "loadavg_start": load0, "loadavg_end": loadavg(),
        "git_commit": git_commit(root), "host": platform.node(),
        "wall_s": time.time() - started, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted, "problems": problems, "metrics": metrics,
        "detail": rec["detail"], "spans": rec["spans"], "jobs": rec["jobs"],
        "stages": rec["stages"],
    }
    res_dir = os.path.join(root, ".bench_results")
    os.makedirs(res_dir, exist_ok=True)
    res_path = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(res_path, "w") as f:
        json.dump(record, f, indent=1)

    for p in problems:
        print(f"CHECK FAILED: {p}")
    print(f"# {a.workload} seed={a.seed} N={CORES} nproc={os.cpu_count()} "
          f"mem={DRIVER_MEM} sf~{inputs['equivalent_tpch_sf']:.4f} "
          f"lineitem_rows={inputs['lineitem_rows']} "
          f"lineitem_bytes={inputs['lineitem_bytes']} loadavg={load0[0]:.2f}->{loadavg()[0]:.2f} "
          f"fail_ratio={failed / attempted:.4f} record={os.path.relpath(res_path, root)}")
    for m, v in metrics.items():
        print(f"{m} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
