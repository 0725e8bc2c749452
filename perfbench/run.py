#!/usr/bin/env python3
"""graft's benchmark: build graft from this checkout, run one workload in
fresh JVMs, check its outputs and print its metrics.

    python3 perfbench/run.py --workload olap-sf0.1 --seed 1 --seconds 40 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run. The full result, self-described (host,
JVM flags, inputs, seed, every sample), goes to perfbench/.work/results/.
The exit code is 0 only when every op ran and every output checked out.

--seconds is recorded but does not bound the run: each workload runs a
fixed number of passes (see Workload.scala), so the point measured on the
JIT warm-up curve does not depend on the machine's speed. A run takes
about the workload's run_seconds in BENCHMARK.json, plus set-up.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")

# workload -> data dir under WORK/data; every workload reads the fixed sf0.1
# tables (TESTDATA.md), copied into the benchmark's own dir
WORKLOADS = {"olap-sf0.1": "sf0.1", "ingest-lookup": "sf0.1"}
SETUP_SAMPLES = 2          # JVMs whose set-up time is sampled per run
JVM_TIMEOUT_S = 110        # the main JVM of a run
SETUP_TIMEOUT_S = 25       # one set-up sample
HEAP = "4g"                # graft's SPARK_DRIVER_MEM: the harness JVM's heap


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """Digest of everything the harness build compiles from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for d in [os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")]:
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """(classpath, jvm options); compiles with sbt when the sources changed."""
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return read_launch(launch)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    opts = ["-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts + ["-Xmx2g"]).strip()
    t0 = time.time()
    log("building graft and the harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0 or not os.path.exists(launch):
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed", 3)
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return read_launch(launch)


def read_launch(path):
    lines = open(path).read().splitlines()
    return lines[0], lines[1:]


def testdata_dir(sf):
    """The fixed dataset's location, as TESTDATA.md at the checkout root
    declares it."""
    doc = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(doc):
        fail("TESTDATA.md not found: run from the root of a graft checkout")
    for line in open(doc):
        m = re.match(r"\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", line)
        if m:
            return m.group(1).rstrip("/")
    fail(f"TESTDATA.md names no sf {sf} directory")


def prepare_data(name):
    """The workload's data dir inside the benchmark's work dir: a copy of
    the fixed tables, made once per checkout. Returns (dir, seconds spent)."""
    dst = os.path.join(WORK, "data", name)
    done = os.path.join(dst, "_COPIED")
    if os.path.exists(done):
        return dst, 0.0
    t0 = time.time()
    src = testdata_dir(name.replace("sf", ""))
    if not os.path.isdir(src):
        fail(f"dataset {src} not found")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            shutil.copy2(os.path.join(src, f), dst)  # keeps mtimes: layouts key on them
            os.chmod(os.path.join(dst, f), 0o644)
    open(done, "w").close()
    return dst, time.time() - t0


def cpu_times():
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, opts, args, timeout, logfile):
    """Runs one harness JVM to completion; its Spark scratch space lives in
    the work dir and is removed afterwards."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"] + opts + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-cp", cp, "perfbench.Main"] + args
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(logfile, "a") as lf:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    shutil.rmtree(tmp, ignore_errors=True)
    return rc


def oracle_check(data_dir, check_dir):
    """{op: None | error} from the repo's DuckDB oracle gate on the cold
    pass's results."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"),
                        data_dir, check_dir], capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|SKIP) (\S+?):?(?: (.*))?$", line)
        if m:
            verdicts[m.group(2)] = None if m.group(1) == "PASS" else (m.group(3) or m.group(1))
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources are not here: run from the root of a graft checkout")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    cp, opts = build()
    data_dir, datagen_s = prepare_data(WORKLOADS[a.workload])
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    logfile = os.path.join(WORK, "results", tag + ".log")
    open(logfile, "w").close()
    raw_path = os.path.join(WORK, "results", tag + ".raw.json")
    work_dir = os.path.join(WORK, a.workload)

    load_start = os.getloadavg()
    cpu0 = cpu_times()
    t0 = time.time()
    rc = run_jvm(cp, opts, ["run", a.workload, data_dir, work_dir, str(a.seed), str(a.trace),
                            raw_path], JVM_TIMEOUT_S, logfile)
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(logfile).read()[-4000:])
        fail(f"harness JVM failed (exit {rc}); log: {logfile}", 1)
    raw = json.load(open(raw_path))
    run_s = time.time() - t0

    setups = [raw["setup"]["setup_s"]]
    if not a.trace:
        for i in range(SETUP_SAMPLES - 1):
            p = os.path.join(WORK, "results", f"{tag}.setup{i}.json")
            rc = run_jvm(cp, opts, ["setup", a.workload, data_dir, work_dir, str(a.seed), "0", p],
                         SETUP_TIMEOUT_S, logfile)
            if rc != 0:
                fail(f"set-up sample JVM failed (exit {rc}); log: {logfile}", 1)
            setups.append(json.load(open(p))["setup"]["setup_s"])
    cpu1 = cpu_times()
    load_end = os.getloadavg()

    # correctness: op errors anywhere, plus the oracle on the cold pass
    errors = {}
    for p in raw["passes"]:
        for o in p["ops"]:
            if not o["ok"]:
                errors.setdefault(o["name"], o["error"])
    if "check_dir" in raw:
        verdicts = oracle_check(data_dir, raw["check_dir"])
        for o in raw["passes"][0]["ops"]:
            if o["name"] not in verdicts:
                errors.setdefault(o["name"], "no result reached the oracle check")
            elif verdicts[o["name"]]:
                errors.setdefault(o["name"], "oracle: " + verdicts[o["name"]])
    if not raw.get("sink", {}).get("others_unchanged", True):
        errors["sink"] = "the run changed other data dirs' sink entries"
    attempted = sum(len(p["ops"]) for p in raw["passes"])
    failed = sum(1 for p in raw["passes"] for o in p["ops"]
                 if not o["ok"] or (p["kind"] == "cold" and o["name"] in errors))
    correct = not errors

    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    described = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds_arg": a.seconds,
        "git_commit": git_commit(), "source_digest": source_digest(),
        "nproc": os.cpu_count(), "affinity": len(os.sched_getaffinity(0)),
        "load_avg_start": load_start, "load_avg_end": load_end, "cpu_steal_frac": steal,
        "run_s": run_s, "datagen_s": datagen_s, "errors": errors,
        "env": raw.get("env"), "sink": raw.get("sink"),
        "fail_frac": failed / attempted,
    }
    wm = metrics.workload_metrics(raw)
    if a.trace:
        raw["datagen_s"] = raw.get("datagen_s", 0.0) + datagen_s
        m, layers = metrics.per_layer(raw, raw.get("spans", []), os.cpu_count())
        described["layers"] = layers
    else:
        m, details = metrics.end_to_end(raw, setups)
        described.update(details)
    described["workload_metrics"] = wm
    described["metrics"] = m
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as fh:
        json.dump(described, fh, indent=1, sort_keys=True)

    # every metric by name and unit, the workload's own ones too; the last
    # line carries the ones BENCHMARK.json declares for this mode
    units = {d["name"]: d["unit"] for d in bench["end_to_end"] + bench["per_layer"]}
    for k, v in {**m, **wm, "fail_frac": failed / attempted}.items():
        if isinstance(v, (int, float)):
            print(f"{k} = {v:.6g} {units[k]}")
    for t in ("op_tail", "lookup_tail"):
        if t in described or t in wm:
            d = described.get(t) or wm.get(t)
            print(f"{t}: p{d['pct']} of {d['n']} samples")
    for op, err in sorted(errors.items()):
        print(f"FAILED {op}: {err}")
    declared = bench["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {d["name"]: {"value": m[d["name"]], "unit": d["unit"]} for d in declared},
    }))
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
