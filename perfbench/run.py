#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark harness with sbt (offline) into .bench_build/ and builds the
warehouse of perfbench/data/ once; later runs reuse them while the sources
are unchanged. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
Everything else (run labels, failures, the full metric set) goes to
stderr and to .bench_build/results/.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import truth  # noqa: E402

# The repository's sf0.01 test tables, served and run through the
# pipeline operators; --seed drives the request streams.
DATA = os.path.join(HERE, "data")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# What the build depends on; the prepared warehouse depends on the
# program and the data only.
BUILD_SOURCES = ["build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"]
DATA_SOURCES = ["build.sbt", "src/main", "perfbench/data"]
# Per-layer metrics a workload's traced run does not measure (reported
# as 0): read_mix times the store and ingest layers, hot_repeat the
# pipeline operators.
NOT_RUN = {"read_mix": ("ops.",), "hot_repeat": ("store.", "ingest.", "api.ctx_load_ms")}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(root, sources):
    """Content digest of the listed files and directory trees."""
    h = hashlib.sha1()
    for rel in sources:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_logged(cmd, cwd, env, logfile, timeout):
    """Run `cmd` in its own process group, output to `logfile`. On timeout,
    or if this script is stopped, kill the whole group and wait for it."""
    with open(logfile, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=out,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, out_dir, stamp):
    """sbt build of the program + harness; returns the JVM argument list."""
    launcher = os.path.join(out_dir, f"launcher-{stamp}.txt")
    if not os.path.exists(launcher):
        if shutil.which("sbt") is None:
            sys.exit("perfbench: sbt not found")
        log("building with sbt (first run in this checkout)")
        t0 = time.time()
        rc = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                         f"-Dperfbench.launcher={launcher}.tmp", "writeLauncher"],
                        os.path.join(root, "perfbench"), sbt_env(),
                        os.path.join(out_dir, "build.log"), BUILD_TIMEOUT_S)
        if rc != 0:
            sys.exit(f"perfbench: build failed (rc={rc}), see .bench_build/build.log")
        os.replace(launcher + ".tmp", launcher)
        log(f"built in {time.time() - t0:.0f} s")
    with open(launcher) as fh:
        return [a for a in fh.read().split("\n") if a]


def jvm(args, java_args, cwd, env, logfile, timeout):
    cmd = ["java"] + java_args + [
        "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={cwd}", f"-Dspark.local.dir={cwd}",
        "graft.perfbench.Main"] + args
    return run_logged(cmd, cwd, env, logfile, timeout)


def cpu_times():
    """(steal, total) jiffies over all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def oracle_compare(root, dump):
    """The repository's DuckDB compare (tools/check.py) of the pipeline
    operators' dumped outputs: [(operator, None if it passed, else why)].
    Operators without oracle SQL get check.py's non-empty-rows check."""
    sys.path.insert(0, os.path.join(root, "tools"))
    out = io.StringIO()
    try:
        import check
        with contextlib.redirect_stdout(out):
            check.main(DATA, dump)
    except Exception as e:  # noqa: BLE001 - a compare that cannot run fails
        return [("oracle compare", f"{type(e).__name__}: {e}")]
    verdicts = []
    for line in out.getvalue().splitlines():
        status, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if status == "PASS":
            verdicts.append((name, None))
        elif status == "FAIL":
            verdicts.append((name, rest))
    return verdicts


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # a stop request unwinds through run_logged, which ends the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        sys.exit(f"perfbench: unknown workload {a.workload}; have {names}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("perfbench: no program sources here; run from the root of a checkout")

    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    stamp = digest(root, BUILD_SOURCES)
    java_args = build(root, out_dir, stamp)

    env = dict(os.environ)
    nproc = len(os.sched_getaffinity(0))
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc))

    data = digest(root, DATA_SOURCES)
    truth_file = os.path.join(out_dir, f"truth-{data}.json")
    warehouse = os.path.join(out_dir, f"warehouse-{data}")
    if not os.path.isdir(warehouse):
        for old in os.listdir(out_dir):  # superseded warehouses
            if old.startswith(("truth-", "warehouse-")):
                p = os.path.join(out_dir, old)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        truth.write(DATA, truth_file)
        log("preparing the warehouse (first run in this checkout)")
        prep = os.path.join(out_dir, "prepare")
        os.makedirs(prep, exist_ok=True)
        rc = jvm(["prepare", DATA, warehouse], java_args, prep, env,
                 os.path.join(out_dir, "prepare.log"), BUILD_TIMEOUT_S)
        shutil.rmtree(prep, ignore_errors=True)
        if rc != 0 or not os.path.isdir(warehouse):
            sys.exit("perfbench: warehouse build failed, see .bench_build/prepare.log")

    work = os.path.join(out_dir, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env["GRAFT_ORACLE_AUX"] = os.path.join(work, "oracle_aux")
    result_file = os.path.join(work, "result.json")
    logfile = os.path.join(out_dir, "run.log")
    with open(logfile, "w"):
        pass
    res = None
    try:
        t0, cpu0 = time.time(), cpu_times()
        rc = jvm(["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                  DATA, truth_file, warehouse, work, result_file],
                 java_args, work, env, logfile, RUN_TIMEOUT_S)
        wall, cpu1 = time.time() - t0, cpu_times()
        if os.path.exists(result_file):
            with open(result_file) as fh:
                res = json.load(fh)
            dump = os.path.join(work, "pipeline")
            if os.path.exists(os.path.join(dump, "oracle_sql.json")):
                c0 = time.time()
                verdicts = oracle_compare(root, dump)
                log(f"oracle compare {time.time() - c0:.1f} s")
                for name, why in verdicts:
                    res["attempted"] += 1
                    if why:
                        res["failed"] += 1
                        res["correct"] = False
                        res["failures"].append(f"{name}: {why}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        sys.stderr.write(open(logfile).read()[-4000:])
        sys.exit(f"perfbench: run produced no result (rc={rc})")

    res["labels"].update(seed=str(a.seed), workload=a.workload, trace=str(a.trace),
                         git_commit=git_commit(root), source_digest=stamp,
                         data_digest=data,
                         nproc=str(nproc), spark_graft_cpus=env["SPARK_GRAFT_CPUS"],
                         jvm_exit=str(rc), run_wall_s=f"{wall:.1f}")
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        res["labels"]["cpu_steal_share"] = f"{(cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.4f}"
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    with open(os.path.join(out_dir, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    log("labels " + json.dumps(res["labels"]))
    if res["failures"] or res["error"]:
        log("failures " + json.dumps({"error": res["error"], "failures": res["failures"]}))
    log("all metrics " + json.dumps({k: v["value"] for k, v in res["metrics"].items()}))

    wanted = bench["per_layer" if a.trace else "end_to_end"]
    metrics, correct = {}, res["correct"]
    for m in wanted:
        if m["name"] in res["metrics"]:
            metrics[m["name"]] = res["metrics"][m["name"]]
        elif a.trace and m["name"].startswith(
                NOT_RUN[a.workload] + tuple(res["labels"].get("skipped", "").split())):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            log(f"metric {m['name']} missing from the run")
            correct = False
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
