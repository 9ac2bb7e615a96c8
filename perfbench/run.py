#!/usr/bin/env python3
"""graft benchmark: one command runs one workload at one seed, checks
every answer, and prints the result as the last line of stdout.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft from the
checkout's sources together with the harness (perfbench/harness) and
keeps the classpath for later runs; inputs are generated from the seed
and cached under perfbench/.cache. --trace 0 times the named workload
and reports the end-to-end metrics; --trace 1 makes the fixed traced pass
of every workload and reports the per-layer metrics, with set-up phases
from the named workload. Every answer is checked (check.py); a run record
with the host's state is kept under perfbench/.runs.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import catalog  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(HERE, ".build")
JVM_TIMEOUT_S = 160
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state; return the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), stdout=f, stderr=subprocess.STDOUT,
                           env=env, timeout=850)
    lines = [l.strip() for l in open(log) if l.strip()]
    if r.returncode != 0 or not lines or "graft" not in lines[-1] and ".jar" not in lines[-1]:
        die(f"build failed (exit {r.returncode}); see {log}", 4)
    cp = lines[-1]
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v


def steal_pct(a, b):
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d[:8]) or 1
    return 100.0 * (d[7] if len(d) > 7 else 0) / tot


def host_record(args, result, steal, cp_stamp):
    return {
        "nproc": os.cpu_count(), "master": result.get("master"),
        "steal_pct": round(steal, 3), "loadavg": list(os.getloadavg()),
        "heap": HEAP, "max_heap_mb": result.get("max_heap_mb"),
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "commit": commit_id(), "build_stamp": cp_stamp[:12],
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def commit_id():
    """The git commit when run from a clone, else a digest of the sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    return "tree:" + source_stamp()[:12]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in catalog.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("graft's sources (build.sbt, src/main/scala/graft) are not in the "
            "current directory; run from the root of a graft checkout")

    import gen
    import check

    cp = build()
    inputs = gen.ensure(os.path.join(HERE, ".cache"), args.seed)
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out, work = os.path.join(run_dir, "out"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (out, work, os.path.join(work, "tmp")):
        os.makedirs(d)

    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--inputs", inputs, "--out", out, "--work", work]
    stat0 = cpu_times()
    t_jvm = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"benchmark JVM timed out; see {run_dir}/jvm.log", 5)
    steal = steal_pct(stat0, cpu_times())
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        die(f"benchmark JVM failed (exit {rc}):\n{tail}", 6)
    result = json.load(open(res_file))
    shutil.rmtree(work, ignore_errors=True)

    attempted = int(result["attempted"])
    t_check = time.time()
    checked = check.run_all(out, inputs)
    print(f"perfbench: jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s",
          file=sys.stderr)
    failed = int(result["failed"]) + checked["failed"]
    problems = list(result.get("errors", [])) + checked["problems"]

    if args.trace:
        values = result["layers"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in catalog.PER_LAYER}
        missing = [m["name"] for m in catalog.PER_LAYER if m["name"] not in values]
        if missing:
            failed += 1
            problems.append(f"per-layer metrics not measured: {missing}")
        repeat = check.counts_repeat(inputs, {n: values[n] for n in result["counts"]})
        print("counts_repeat: " + json.dumps(repeat))
    else:
        values = result["e2e"]
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in catalog.E2E}

    if os.path.exists(os.path.join(out, "spans.jsonl")):
        shutil.move(os.path.join(out, "spans.jsonl"), os.path.join(run_dir, "spans.jsonl"))
    shutil.rmtree(out, ignore_errors=True)
    host = host_record(args, result, steal, source_stamp())
    json.dump({"host": host, "metrics": metrics, "attempted": attempted, "failed": failed,
               "problems": problems}, open(os.path.join(run_dir, "record.json"), "w"), indent=1)
    print("host: " + json.dumps(host))
    for pr in problems[:20]:
        print("problem: " + pr)
    print(f"failed_frac: {failed / max(attempted, 1):.6f} ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
