#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload trickle_cdc|bulk_cdc|operator_suite \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest [--workload W]

Builds graft and the benchmark from source (perfbench/build.sh), makes the
seeded inputs, runs one JVM on local[min(nproc, 4)], checks every output
against computations made apart from graft (DuckDB), and prints a summary
line and then, as the last line, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Untraced runs report the end-to-end metrics, traced runs the per-layer
ones. All scratch data lives under .bench_work/ and is deleted at the end.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402

WORKLOADS = ("trickle_cdc", "bulk_cdc", "operator_suite")
SUITE_SF = 0.01
HEAP = "2g"
JVM_TIMEOUT_S = 170
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


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def build():
    classes = os.path.join(build_dir(), "perfbench-classes")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    return classes


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_2.13-*.jar")):
        raise SystemExit(f"Spark jars not found at '{jars}': set SPARK_HOME")
    return jars


def run_jvm(classes, args, work):
    """Runs perfbench.Main; returns (exit code, peak RSS MB, launch epoch s)."""
    jars = spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        deadline = launched + JVM_TIMEOUT_S
        status = None
        while status is None:
            pid, st, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                status = os.waitstatus_to_exitcode(st)
                rss_mb = ru.ru_maxrss / 1024.0
            elif time.time() > deadline:
                p.kill()
                _, st, ru = os.wait4(p.pid, 0)
                status, rss_mb = -9, ru.ru_maxrss / 1024.0
            else:
                time.sleep(0.05)
    if status != 0:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
    return status, rss_mb, launched


def run_once(workload, seed, seconds, trace, cores, small=False, perturbed=False):
    """One benchmark run. Returns (result document, check verdicts), plus
    the verdicts against perturbed expectations when `perturbed`."""
    classes = build()
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out",
                       f"{workload}-seed{seed}{'-trace' if trace else ''}")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s = 0.0
        args = ["--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "1" if trace else "0",
                "--cores", str(cores), "--work", work, "--out", out,
                "--size", "small" if small else "full"]
        if workload == "operator_suite":
            import gen_tables  # pandas and pyarrow load only for the suite
            data = os.path.join(work, "tables")
            t0 = time.time()
            gen_tables.write(data, seed, 0.001 if small else SUITE_SF)
            gen_s = time.time() - t0
            args += ["--data", data]
        code, rss_mb, launched = run_jvm(classes, args, work)
        if code != 0:
            raise SystemExit(f"{workload}: JVM exited with {code}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        res["setup"]["python_gen_s"] = gen_s
        res["setup"]["total_s"] = (gen_s + res["setup"]["done_epoch_ms"] / 1000.0
                                   - launched)
        res["peak_rss_mb"] = rss_mb
        verdicts = checks.run_all(res)
        if perturbed:
            return res, verdicts, checks.run_all(res, perturb=True)
        return res, verdicts
    finally:
        shutil.rmtree(work, ignore_errors=True)


def declared_metrics(kind):
    """(name, unit) of each `end_to_end` or `per_layer` metric in
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def report(res, verdicts, trace):
    s = res["setup"]
    if trace:
        values = dict(res["layer"])
        values["setup.session_s"] = s["session_s"]
        values["setup.gen_s"] = s["gen_s"] + s["python_gen_s"]
        values["setup.warm_s"] = s["warm_s"]
        # a layer the workload does not exercise reads 0
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                   for n, u in declared_metrics("per_layer")}
    else:
        values = dict(res["e2e"])
        values["setup_s"] = s["total_s"]
        values["peak_rss_mb"] = res["peak_rss_mb"]
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in declared_metrics("end_to_end")}
    attempted = sum(res["attempted"].values())
    failed = sum(res["failed"].values())
    figures = " ".join(f"{k}={v['value']:.6g} {v['unit']}"
                       for k, v in res["info"].items())
    ops = " ".join(f"{k}={n}/{res['failed'].get(k, 0)}"
                   for k, n in res["attempted"].items())
    print(f"[perfbench] {res['workload']} seed={res['seed']} "
          f"cores={res['cores']}: {figures}")
    print(f"[perfbench] operations attempted/failed: {ops}")
    for f in res["failures"]:
        print(f"[perfbench] FAILED {f['op']}: {f['message']}")
    for name, ok, detail in verdicts:
        print(f"[perfbench] check {name}: {'ok' if ok else 'FAIL'} {detail}")
    correct = all(ok for _, ok, _ in verdicts)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def selftest(workloads, cores):
    """Small-size run of each workload; each must pass its checks, and
    each must fail them once an expected value is perturbed."""
    ok = True
    for w in workloads:
        res, verdicts, perturbed = run_once(w, 7, 1, False, cores, small=True,
                                            perturbed=True)
        bad = [v for v in verdicts if not v[1]]
        log(f"selftest {w}: {len(verdicts)} checks, {len(bad)} failed")
        for v in bad:
            log(f"  FAIL {v[0]}: {v[2]}")
        ok &= not bad and sum(res["failed"].values()) == 0
        caught = [v[0] for v in perturbed if not v[1]]
        log(f"selftest {w}: perturbed expectations fail {len(caught)} "
            f"of {len(perturbed)} checks")
        ok &= len(caught) == len(perturbed)
    log("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    # local[N] threads; the default is nproc capped at 4 (other values are
    # for one-off scaling comparisons)
    ap.add_argument("--cores", type=int,
                    default=max(1, min(os.cpu_count() or 1, 4)))
    a = ap.parse_args()
    if a.selftest:
        return selftest([a.workload] if a.workload else WORKLOADS, a.cores)
    if not a.workload:
        ap.error("--workload is required")
    res, verdicts = run_once(a.workload, a.seed, a.seconds, bool(a.trace),
                             a.cores)
    report(res, verdicts, bool(a.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
