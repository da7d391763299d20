#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, one closed-loop
client, Spark `local[nproc]` in one JVM.

    python3 perfbench/run.py --workload ss_sweep|train_data \
        --seed N --seconds S --trace 0|1

Builds the library and the harness from source (once per source
state), generates or reuses the seeded inputs, runs the workload,
checks its outputs against DuckDB twins, and prints as its last line
one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). Everything it
writes stays under perfbench/.work/.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ss_sweep", "train_data")
KEEP_INPUTS = 24     # generated input sets kept per workload
KEEP_BUILDS = 4      # compiled source states kept

# Spark on JDK 17 outside spark-submit (as the root build's javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # driver heap as the verify command in ROADMAP.md derives it: half of
    # MemTotal, between 2 and 8 GiB
    heap_g = min(8, max(2, mem_kb // 2097152))
    return cores, heap_g


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile library and harness with sbt and copy the compiled class
    directories into .work/build/<stamp>/, so a later run of the same
    sources runs those bytes even after another source state has been
    compiled over target/. Returns the runtime classpath with the copies
    in place of the class directories."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources (build.sbt, src/main/scala) beside perfbench/")
    stamp = source_stamp()
    bdir = os.path.join(WORK, "build")
    sdir = os.path.join(bdir, stamp)
    cp_file = os.path.join(sdir, "classpath")  # written last: marks a whole copy
    if os.path.isfile(cp_file):
        os.utime(sdir)
        with open(cp_file) as f:
            return f.read().strip(), 0.0
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    default_opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.isfile(repos):
        default_opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                        + default_opts)
    env["SBT_OPTS"] = env.get("SBT_OPTS") or default_opts
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True, timeout=840)
        logf.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed, see {os.path.join(bdir, 'sbt.log')}")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    shutil.rmtree(sdir, ignore_errors=True)
    cp = []
    for entry in lines[-1].strip().split(os.pathsep):
        if os.path.isdir(entry) and os.path.realpath(entry).startswith(os.path.realpath(ROOT) + os.sep):
            copy = os.path.join(sdir, "classes", str(len(cp)))
            shutil.copytree(entry, copy)
            entry = copy
        cp.append(entry)
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(cp))
    old = sorted((x for x in os.listdir(bdir) if os.path.isdir(os.path.join(bdir, x))),
                 key=lambda x: os.path.getmtime(os.path.join(bdir, x)))
    for x in old[:-KEEP_BUILDS]:
        shutil.rmtree(os.path.join(bdir, x), ignore_errors=True)
    return os.pathsep.join(cp), time.time() - t0


def inputs(workload, seed):
    """Generate the seeded inputs, or reuse them; returns (dir, rows,
    generation seconds, reused)."""
    base = os.path.join(WORK, "data", workload)
    want = {"workload": workload, "seed": seed, "sizes": gen.SIZES[workload],
            "version": gen.VERSION}
    d = os.path.join(base, f"seed-{seed}")
    meta = os.path.join(d, "inputs.json")
    if os.path.isfile(meta):
        with open(meta) as f:
            have = json.load(f)
        if all(have.get(k) == v for k, v in want.items()):
            os.utime(d)
            return d, have["rows"], 0.0, True
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    rows = gen.generate(workload, seed, d + ".tmp")
    os.rename(d + ".tmp", d)
    gen_s = time.time() - t0
    old = sorted((x for x in os.listdir(base) if x.startswith("seed-")),
                 key=lambda x: os.path.getmtime(os.path.join(base, x)))
    for x in old[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    return d, rows, gen_s, False


def run_jvm(cp, workload, data, rows, seconds, trace, cores, heap_g, rundir, timeout):
    sizes = gen.SIZES[workload]
    args = ["--workload", workload, "--data", data, "--work", rundir,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]
    if workload == "ss_sweep":
        args += ["--rows", str(rows),
                 "--queries", str(sizes["queries"]), "--shards", str(sizes["shards"]),
                 "--buckets", str(sizes["buckets"])]
    if workload == "train_data":
        args += ["--docs", str(sizes["docs"])]
    # a fixed young generation keeps the heap's growth, and so peak
    # RSS, from depending on the collector's adaptive sizing
    cmd = (["java", f"-Xmx{heap_g}g", "-Xmn1g", *ADD_OPENS,
            f"-Djava.io.tmpdir={rundir}/tmp", f"-Dgraft.index.dir={rundir}/index",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main"] + args)
    os.makedirs(os.path.join(rundir, "tmp"), exist_ok=True)
    with open(os.path.join(rundir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload run exceeded {timeout:.0f} s")
    if rc != 0 or not os.path.isfile(os.path.join(rundir, "record.json")):
        with open(os.path.join(rundir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"workload JVM exited with {rc}:\n{tail}")
    with open(os.path.join(rundir, "record.json")) as f:
        return json.load(f)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    spec = bench_spec()
    cp, build_s = build()
    cores, heap_g = host()
    data, rows, gen_s, reused = inputs(a.workload, a.seed)
    rundir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    load_before = loadavg()
    # 180 s per run; a run that also had to build gets the build's time
    timeout = max(30.0, 170.0 - (time.time() - t_start - build_s))
    t_jvm = time.time()
    rec = run_jvm(cp, a.workload, data, rows, a.seconds, a.trace, cores, heap_g,
                  rundir, timeout)
    jvm_s = time.time() - t_jvm
    load_after = loadavg()

    iters = rec["iterations"]
    failed = sum(1 for it in iters if it["error"]) + (1 if rec["check"]["error"] else 0)
    attempted = len(iters) + 1
    t_check = time.time()
    wrong, notes = check.check(a.workload, data, rundir, rec)
    check_s = time.time() - t_check
    untraced = [it["wall_s"] for it in iters if not it["traced"] and not it["error"]]
    # per-iteration peaks when the kernel let the harness reset the mark,
    # else the whole run's peak
    rss = [it["peak_rss_mb"] for it in iters
           if not it["traced"] and not it["error"] and it["peak_rss_mb"] > 0]
    iter_p50 = stats.median(untraced)
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = stats.layer_metrics(rec, names)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": rec["setup_s"],
            "iter_s_p50": iter_p50,
            "rows_per_s": rows / iter_p50 if iter_p50 > 0 else 0.0,
            "peak_rss_mb": stats.median(rss) if rss else rec["peak_rss_mb"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    samples = {}
    for it in iters:
        if not it["traced"] and not it["error"]:
            for k, v in it["samples"].items():
                samples.setdefault(k, []).extend(v)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "rows": rows, "sizes": gen.SIZES[a.workload], "clients": 1,
        "inputs_gen_s": round(gen_s, 3), "inputs_reused": reused,
        "build_s": round(build_s, 1),
        "host": {"nproc": cores, "heap_g": heap_g, "jvm_heap_mb": rec["heap_mb"],
                 "jdk": rec["jdk"], "spark": rec["spark"],
                 "load_before": load_before, "load_after": load_after},
        "session_start_s": rec["session_start_s"],
        "iterations": len(untraced),
        "iter_samples_s": untraced,
        "traced_iterations": sum(1 for it in iters if it["traced"]),
        "ops_failed_frac": failed / attempted,
        "outputs_wrong": wrong,
        "check_notes": notes,
        "check_s": round(check_s, 2),
        "jvm_s": round(jvm_s, 1),
        "rss_samples_mb": rss,
        "run_s": round(time.time() - t_start, 1),
    }
    samples.pop("store_rewrites", None)
    for k, v in samples.items():
        p = stats.highest_supported_percentile(len(v))
        detail[f"{k}_s_p50"] = stats.median(v)
        if p and p > 50:
            detail[f"{k}_s_p{p}"] = stats.percentile(v, p)[0]
        detail[f"{k}_samples"] = len(v)
    print(json.dumps(detail, sort_keys=True))
    result = {
        "correct": wrong == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    shutil.copy(os.path.join(rundir, "record.json"),
                os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"))
    shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
