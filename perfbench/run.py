#!/usr/bin/env python3
"""The repository benchmark: `python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`, from the repository root.

It builds the program and the benchmark JVM from source (once per source
state), generates the workload's inputs from the seed, runs the workload
closed-loop for `--seconds`, checks the answers, and prints one JSON
object as its last line: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. The line before it
names every metric the workload measures directly, with units and sample
counts. `--workload all` runs every workload in turn.

See README.md in this directory for the workloads and the metric map.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["nna", "store_hybrid"]
RUN_LIMIT_S = 170
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- hygiene
def lock():
    """An exclusive lock: concurrent benchmark runs corrupt each other."""
    os.makedirs(WORK, exist_ok=True)
    fh = open(os.path.join(WORK, "bench.lock"), "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another benchmark run holds the lock")
    return fh


def foreign_sbt():
    """Pids of sbt launchers outside this process's ancestry: a compile
    running beside the benchmark skews its timings many-fold."""
    own, pid = set(), os.getpid()
    while pid > 1:
        own.add(pid)
        try:
            pid = int(open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    found = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in own:
            continue
        try:
            cmd = open(f"/proc/{p}/cmdline", "rb").read().decode(errors="replace")
        except OSError:
            continue
        if "sbt-launch" in cmd or "xsbt.boot.Boot" in cmd:
            found.append(int(p))
    return found


def settle(cpus, wait_s=60):
    """Refuse while a foreign sbt runs (after waiting for it), and give an
    oversubscribed box (1-minute load average above twice the cores; the
    previous benchmark run alone leaves it near the core count) time to
    drain."""
    deadline = time.time() + wait_s
    while foreign_sbt():
        if time.time() > deadline:
            fail(f"refusing to run: sbt process(es) {foreign_sbt()} are running")
        time.sleep(2)
    deadline = time.time() + 20
    while os.getloadavg()[0] > 2 * cpus and time.time() < deadline:
        time.sleep(2)


# ------------------------------------------------------------------ build
def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p[len(ROOT):].encode())
                h.update(open(p, "rb").read())
        if os.path.isfile(base):
            h.update(open(base, "rb").read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the runner; returns the JVM classpath."""
    stamp = os.path.join(WORK, "build", source_hash() + ".classpath")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    log("building the program and the benchmark runner")
    env = dict(os.environ, COURSIER_MODE="offline")
    # the same Spark jars the root build compiles against
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                     open(os.path.join(ROOT, "build.sbt")).read())
    if not jars:
        fail("build.sbt names no unmanagedBase for the Spark jars")
    env["PERFBENCH_SPARK_JARS"] = jars.group(1)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], cwd=HERE, env=env,
                         capture_output=True, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if "target/scala-2.13/classes" in l
             and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail("build failed:\n" + out.stdout[-3000:] + out.stderr[-2000:])
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


# ------------------------------------------------------------------- stats
def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)] if s else 0.0


def reads(workload, samples):
    """The read latency samples and their p50: for `store_hybrid` the mean
    of the tiers' medians, so each tier weighs the same."""
    if workload == "nna":
        return samples["read_ms"], statistics.median(samples["read_ms"])
    tiers = [samples[k] for k in sorted(samples) if k.startswith("read_ms_")]
    return [x for t in tiers for x in t], statistics.fmean(statistics.median(t) for t in tiers)


def end_to_end(workload, samples, values):
    return {"setup_s": statistics.median(samples["setup_s"]),
            "read_p50_ms": reads(workload, samples)[1],
            "read_per_s": values["read_per_s"],
            "write_per_s": values["write_per_s"]}


def detail(workload, samples, values, attempted, failed):
    """The workload's own named metrics: (value, unit, samples)."""
    pooled, p50 = reads(workload, samples)
    d = {"setup_s": (statistics.median(samples["setup_s"]), "s", len(samples["setup_s"])),
         "error_ratio": (failed / attempted if attempted else 1.0, "ratio", attempted)}
    if workload == "nna":
        vis, tail = samples.get("visible_ms", []), samples.get("tail_read_ms", [])
        d.update(query_p50_ms=(p50, "ms", len(pooled)),
                 query_p90_ms=(pct(pooled, 90), "ms", len(pooled)),
                 query_qps=(values["read_per_s"], "1/s", len(pooled)),
                 visible_p50_s=(statistics.median(vis) / 1000 if vis else 0.0, "s", len(vis)),
                 edits_per_s=(values["write_per_s"], "1/s", len(vis)),
                 tail_read_p50_ms=(statistics.median(tail) if tail else 0.0, "ms", len(tail)),
                 cache_mb=(values["cache_mb"], "MB", 1))
    else:
        ticks = samples.get("tick_ms", [])
        d.update(tick_p50_s=(statistics.median(ticks) / 1000, "s", len(ticks)),
                 serve_p50_ms=(p50, "ms", len(pooled)),
                 serve_p90_ms=(pct(pooled, 90), "ms", len(pooled)))
    return d


# --------------------------------------------------------------------- run
def run(workload, seed, seconds, trace):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cpus = len(os.sched_getaffinity(0))
    held = lock()
    settle(cpus)
    classpath = build()
    settle(cpus)
    t_start = time.time()
    rundir = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    inputs, work = os.path.join(rundir, "inputs"), os.path.join(rundir, "work")
    os.makedirs(inputs)
    os.makedirs(os.path.join(work, "tmp"))
    cfg = dict(workload=workload, seed=seed, seconds=seconds, trace=trace, inputs=inputs,
               work=work, out=os.path.join(rundir, "result.json"), cpus=cpus,
               spans=os.path.join(WORK, f"{workload}-spans.jsonl"))
    try:
        if workload == "nna":
            import gen_nna
            import gen_tail
            flat, cfg["fsimage"] = gen_tail.generate(inputs, seed, os.path.join(WORK, "cache"),
                                                     ROOT)
            gen_nna.generate(inputs, seed)
        else:
            import gen_store
            gen_store.generate(inputs, seed)
        with open(os.path.join(rundir, "config.json"), "w") as fh:
            json.dump(cfg, fh)
        log(f"inputs ready in {time.time() - t_start:.1f}s")
        mem = "3g"
        cmd = (["java", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
               [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", classpath, "perfbench.Main", os.path.join(rundir, "config.json")])
        with open(os.path.join(rundir, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("the benchmark JVM timed out")
        if proc.returncode != 0 or not os.path.exists(cfg["out"]):
            fail("the benchmark JVM failed:\n" + open(os.path.join(rundir, "jvm.log")).read()[-4000:])
        log(f"JVM done at {time.time() - t_start:.1f}s")
        res = json.load(open(cfg["out"]))
        samples, values = res["samples"], res["values"]
        attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
        if workload == "nna":
            # every REST request sent (a wrong first answer fails each send
            # of its request, a later answer that differs from the first
            # fails its send) and every folded census
            occ, differs = values["occurrences"], values["differs"]
            wrong = gen_nna.check(inputs, flat, values["answers"])
            attempted += sum(occ.values())
            failed += sum(occ[k] if k in wrong else differs.get(k, 0) for k in occ)
            failures += [f"wrong answer: {k}: {msg}" for k, msg in wrong.items()]
            failures += [f"{k}: {n} answers differ from the first" for k, n in differs.items()]
            folded = {int(k.split("_")[1]): v for k, v in values.items()
                      if k.startswith("census_")}
            wrong_census = gen_tail.check(inputs, folded)
            attempted += len(folded)
            failed += len(wrong_census)
            failures += wrong_census
        log(f"checked at {time.time() - t_start:.1f}s")
        for f in failures[:10]:
            log(f"FAILED {f}")
    finally:
        if os.path.exists(os.path.join(rundir, "jvm.log")):
            shutil.copy(os.path.join(rundir, "jvm.log"), os.path.join(WORK, f"{workload}.log"))
        shutil.rmtree(rundir, ignore_errors=True)
        held.close()

    if trace:
        metrics = {m["name"]: res["layers"].get(m["name"], 0.0) for m in bench["per_layer"]}
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        metrics = end_to_end(workload, samples, values)
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        print(json.dumps({"workload": workload, "metrics": {
            k: {"value": v, "unit": u, "samples": n}
            for k, (v, u, n) in detail(workload, samples, values, attempted, failed).items()}}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("BENCHMARK.json", "src/main/scala", "tools/gen_fsimage_bin.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a checkout of the repository")
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        print(json.dumps(run(w, a.seed, a.seconds, a.trace)), flush=True)


if __name__ == "__main__":
    main()
