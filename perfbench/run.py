#!/usr/bin/env python3
"""The repository's benchmark: SQL text and DataFrame operators in, rows
out, through the engine's public calls, with every output checked.

Run from the repository root:

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
The run's record (host state, every operation, the spans of a traced run)
goes to .bench_build/perfbench/records/. See perfbench/WORKLOADS.md.

    python3 perfbench/run.py --selftest     # the client's checker self-test
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
REQUIRED = ["build.sbt", "src/main/scala/graft/Engine.scala",
            "tools/extract_ref_queries.py", "BENCHMARK.json"]
JVM_TIMEOUT_S = 165


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of everything the build reads, so an unchanged checkout skips
    sbt (its start-up alone costs most of a short run)."""
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        for d, subdirs, files in os.walk(top):
            # in place, so the walk skips build output and stays in order
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the client once per source state; returns
    (classpath, JVM options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_path = os.path.join(WORK, "build.stamp")
    stamp = sources_stamp()
    fresh = (os.path.exists(launch) and os.path.exists(stamp_path)
             and open(stamp_path).read() == stamp)
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "perfbench/writeLaunch"], cwd=HERE, env=env,
                                stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0:
            sys.stderr.write(open(log).read()[-3000:])
            die(f"build failed (log: {log})", 1)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    lines = open(launch).read().split("\n")
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts


def io_canary():
    """Host I/O-path probe: pipe round trips to a child process and small
    fsynced writes, medians in microseconds. A host that slows syscalls
    shows here while the CPU canary reads clean."""
    child = subprocess.Popen(["cat"], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             bufsize=0)
    rtt = []
    for _ in range(200):
        t0 = time.perf_counter()
        child.stdin.write(b"x\n")
        child.stdout.readline()
        rtt.append((time.perf_counter() - t0) * 1e6)
    child.stdin.close()
    child.wait()
    fsync = []
    path = os.path.join(WORK, "fsync.probe")
    with open(path, "wb") as f:
        for _ in range(20):
            f.write(b"\0" * 4096)
            f.flush()
            t0 = time.perf_counter()
            os.fsync(f.fileno())
            fsync.append((time.perf_counter() - t0) * 1e6)
    os.remove(path)
    return {"pipe_rtt_us": statistics.median(rtt), "fsync_us": statistics.median(fsync)}


def run_client(cp, jvm_opts, plan_path, out_path, trace, salt):
    tmp = os.path.join(WORK, "tmp")  # Spark's scratch and streaming sinks
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + jvm_opts + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "perfbench.Main", "run", f"plan={plan_path}",
                                  f"out={out_path}",
                                  "dir=" + os.path.join(HERE, "data", "sf0.1"),
                                  f"trace={trace}", f"salt={salt}"])
    log = out_path + ".log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"client timed out after {JVM_TIMEOUT_S} s (log: {log})", 1)
    if rc != 0:
        sys.stderr.write(open(log).read()[-3000:])
        die(f"client exited {rc} (log: {log})", 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die("run from the root of a checkout of the engine; missing: " + ", ".join(missing))
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)

    import report     # noqa: E402 -- workloads imports the repo's tools/,
    import workloads  # so both wait for the layout check above
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp, jvm_opts = build()

    if a.selftest:
        sys.exit(subprocess.run(["java", "-cp", cp, "perfbench.Main", "selftest"]).returncode)
    if a.workload not in workloads.WORKLOADS:
        die(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    ops, salt = workloads.make(a.workload, a.seed)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    plan_path = os.path.join(WORK, f"{tag}.plan.tsv")
    out_path = os.path.join(WORK, f"{tag}.out.tsv")
    workloads.write_plan(plan_path, ops)
    io = io_canary()
    run_client(cp, jvm_opts, plan_path, out_path, a.trace, salt)

    client = report.read_client(out_path)
    failed = sum(o["status"] == "fail" for o in client["op"])
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "salt": salt,
        "host": dict(client["host"], io_canary=io, load_average=os.getloadavg()[0],
                     spark_graft_env={k: v for k, v in os.environ.items()
                                      if k.startswith("SPARK_GRAFT_")}),
        "setup_s": client["setup"][0][0],
        "warm_up_s": client["warm"],
        "ops": client["op"],
    }
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values, tree = report.per_layer(client, names)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        record["spans"] = tree
    else:
        values = report.end_to_end(client)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    record["metrics"] = values
    rec_path = os.path.join(WORK, "records", f"{tag}.json")
    with open(rec_path, "w") as f:
        f.write(report.dumps(record) + "\n")
    print(f"perfbench: record {rec_path}", file=sys.stderr)
    print(report.dumps(report.result(failed == 0, len(client["op"]), failed, values, units)))


if __name__ == "__main__":
    main()
