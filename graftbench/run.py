#!/usr/bin/env python3
"""graft benchmark runner.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py record      # re-record expected/ops.json from this tree

Run from the root of a graft checkout. The runner builds graft together
with the benchmark's JVM program (graftbench/build.sbt), generates the seeded
inputs under graftbench/.work, runs the workload in a fresh JVM, checks
its results and prints one JSON result line as the last line of stdout:

    {"correct": true, "attempted": 60, "failed": 0,
     "metrics": {"pass_s": {"value": 2.31, "unit": "s"}, ...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (from a separate traced run that also
writes spans to graftbench/.work/out/spans.jsonl). Every run is appended
to graftbench/.work/history.jsonl, which graftbench/ab.py compares.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(WORK, "out")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
EXPECTED_OPS = os.path.join(BENCH, "expected", "ops.json")
DATA = os.path.join(WORK, "data")
ETL_DIR = os.path.join(WORK, "data", "etl")
RUN_LIMIT_S = 170          # the whole run, build excluded, must end well within 180 s


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"ERROR: {msg}")
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def spark_cores(workload):
    """Spark's local[n] for a workload (METRICS.md, "Cores and noise").
    An etl_reference pass is a parallel CSV parse: it runs a quarter
    faster at local[nproc] than at half that. A derived_cold pass is
    serial job overhead beside JIT compiler threads that never go idle:
    at local[nproc] the two oversubscribe the cores, and runs spread
    twice as much at the same median."""
    return cores() if workload == "etl_reference" else max(1, cores() // 2)


def source_digest():
    """Digest of everything the build compiles: graft's sources and the benchmark's."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def build(digest):
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(LAUNCH) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building graft + the benchmark's JVM program with sbt")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t = time.time()
    rc, out = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                         "build", 880, cwd=BENCH, env=env)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (rc={rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f} s")


def run_logged(cmd, name, timeout, cwd=None, env=None, tick=None):
    """Runs cmd in its own process group, output to .work/logs/<name>.log,
    calling tick(pid) about every two seconds while it runs. On timeout
    the whole group is killed and waited for."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    path = os.path.join(WORK, "logs", f"{name}.log")
    deadline = time.time() + max(1, timeout)
    with open(path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd or ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        while True:
            try:
                rc = p.wait(timeout=max(0.1, min(2.0, deadline - time.time())))
                break
            except subprocess.TimeoutExpired:
                if time.time() >= deadline:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
                    rc = -9
                    break
                if tick:
                    tick(p.pid)
    with open(path, encoding="utf-8", errors="replace") as lf:
        return rc, lf.read()


def jvm(args, name, timeout, workload, tick=None):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    with open(LAUNCH) as f:
        launch = f.read().split("\n")
    cmd = (["java"] + [x for x in launch if x] + [
        # a fixed heap and young generation keep the resident set a
        # function of the work rather than of heap-resizing decisions
        "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "graftbench.Main"] + args)
    # graft's scratch (warehouse, layout repairs, checkpoints) follows
    # java.io.tmpdir only when /dev/shm is ruled out by its size budget,
    # which keeps every write inside the checkout
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(spark_cores(workload)), SPARK_GRAFT_SCRATCH_MIN_GB="1000000")
    rc, out = run_logged(cmd, name, timeout, env=env, tick=tick)
    if rc != 0:
        sys.stderr.write(out[-6000:])
        fail(f"JVM '{name}' failed (rc={rc})")
    return out


def spark_jvms(own_group=None):
    """Other live JVMs running Spark: the contention that invalidates timings.
    Processes in the process group own_group (the run's own JVM) are not others."""
    mine = set()
    p = os.getpid()
    while p > 1:
        mine.add(p)
        try:
            with open(f"/proc/{p}/stat") as f:
                p = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[2]) == own_group:
                    continue
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace").strip()
        except (OSError, ValueError, IndexError):
            continue
        exe = cmd.split(" ", 1)[0]
        if (exe == "java" or exe.endswith("/java")) and (
                "org.apache.spark" in cmd or "spark/jars" in cmd or "graft" in cmd):
            found.append(f"{d}: {cmd[:120]}")
    return found


def cpu_times():
    """The host's aggregate CPU times from /proc/stat (user, nice, system, idle, ..., steal)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(t0, t1):
    """Share of the host's CPU time the hypervisor gave to other guests between two samples."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) > 0 else None


def clean_outputs():
    """Stale-artifact guard: no file from an earlier launch can be read as this one's."""
    if os.path.isdir(OUT):
        shutil.rmtree(OUT)
    os.makedirs(OUT)
    shutil.rmtree(os.path.join(WORK, "etl_out"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)


def read_result(path, nonce):
    try:
        with open(path, encoding="utf-8") as f:
            r = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"no readable result at {path}: {e}")
    if r.get("nonce") != nonce:
        fail(f"{path} belongs to another launch")
    return r


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read {path}: {e}")


def record():
    build(source_digest())
    jvm(["gen", "--data", DATA], "gen", 600, "derived_cold")
    jvm(["record", "--data", DATA, "--out", EXPECTED_OPS], "record", 900, "derived_cold")
    log(f"wrote {EXPECTED_OPS}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "record":
        return record()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout")
    spec = load_spec()
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    build(digest)
    t_start = time.time()

    def left():
        return RUN_LIMIT_S - (time.time() - t_start)

    contenders = spark_jvms()
    nonce = uuid.uuid4().hex
    stamp = {"commit": git_commit(), "source_digest": digest, "workload": a.workload,
             "seed": a.seed, "cores": cores(), "spark_cores": spark_cores(a.workload), "trace": a.trace, "nonce": nonce,
             "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}

    etl = a.workload == "etl_reference"
    clean_outputs()
    if etl:
        shutil.rmtree(ETL_DIR, ignore_errors=True)
        csv = os.path.join(ETL_DIR, "listings.csv")
        expected = os.path.join(ETL_DIR, "expected.json")
        jvm(["gen", "--csv", csv, "--expected", expected, "--seed", str(a.seed)], "gen", left(), a.workload)
        inputs = ["--csv", csv, "--expected", expected]
    else:
        jvm(["gen", "--data", DATA], "gen", max(left(), 300), a.workload)
        inputs = ["--data", DATA, "--expected", EXPECTED_OPS]

    res_path = os.path.join(OUT, "result.json")
    cpu0 = cpu_times()
    # the sentinel also samples while the run's JVM works, so a contender
    # that comes and goes between the start and end scans is still seen
    jvm(["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--nonce", nonce, "--out", res_path] + inputs, "run", left(),
        a.workload, tick=lambda pid: contenders.extend(spark_jvms(own_group=pid)))
    steal = steal_share(cpu0, cpu_times())
    res = read_result(res_path, nonce)
    if res["workload"] != a.workload or res["seed"] != a.seed or bool(res["trace"]) != bool(a.trace):
        fail("result does not match this run's workload/seed/trace")

    contenders += spark_jvms()
    correct, attempted, failed = bool(res["correct"]), int(res["attempted"]), int(res["failed"])
    if contenders:
        log("CONTENDED: other Spark JVMs ran during this run; it counts as failed, not timed: "
            + "; ".join(sorted(set(contenders))))
        correct, failed = False, attempted

    # the JVM reports what it measured by name; BENCHMARK.json says which
    # metrics the result line carries and in which unit. A layer this
    # workload does not exercise reads 0 and is listed as not measured.
    metrics, not_measured = {}, []
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        got = res["metrics"].get(m["name"])
        if got is None and not a.trace:
            fail(f"the run did not report {m['name']}")
        if got is None:
            not_measured.append(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}

    detail = {"stamp": stamp, "failed_frac": failed / max(1, attempted),
              "samples": {k: v.get("n") for k, v in res["metrics"].items()},
              "unbounded": {k: v["value"] for k, v in res["metrics"].items() if k not in metrics},
              "not_measured": not_measured,
              "contenders": sorted(set(contenders)),
              "cpu_wall_ratio": res["detail"].get("cpu_wall_ratio"),
              "host_steal_share": steal,
              "failures": res["detail"].get("failures", [])[:10]}
    final = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(WORK, "history.jsonl"), "a") as f:
        f.write(json.dumps({"stamp": stamp, "result": final, "detail": res["detail"],
                            "host_steal_share": steal}) + "\n")

    for k, v in metrics.items():
        n = detail["samples"].get(k)
        log(f"{k:32s} {v['value']:>14.6g} {v['unit']:<7s} n={n}")
    for msg in detail["failures"]:
        log(f"FAILED: {msg}")
    print(json.dumps({"detail": detail}))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
