#!/usr/bin/env python3
"""graft end-to-end benchmark: one run of one workload.

    python3 e2ebench/run.py --workload ehr_pipeline --seed 42 --seconds 10 --trace 0

Builds the library and the harness from source when they changed (sbt, no
sbt in any measured interval), generates the workload's inputs from the
seed in a separate JVM, runs the measured JVM, checks every op's output and
prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

`--make-expected` rewrites expected/<workload>.json from a run at the
default seed, after confirming the oracle-covered ops against DuckDB.
See README.md for the workloads, the metrics and how to read a trace.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import checks
import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, ".work")
CLASSPATH_FILE = os.path.join(TARGET, "run.classpath")
CDS_ARCHIVE = os.path.join(TARGET, "spark.jsa")
STAMP = os.path.join(TARGET, "build.stamp")
DEFAULT_SEED = 42
RUN_DEADLINE_S = 170  # every run ends within 180 s
WORKLOADS = ("ehr_pipeline", "corpus_dedup")

# The add-opens Spark needs on JDK 17 outside spark-submit (the same list
# as the repository's build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def jvm_flags(heap):
    """Fixed flags of every benchmark JVM. Temporary files stay in the
    checkout; the class-data-sharing archive (made at build time from a
    plain Spark session) is used when it maps, and ignored otherwise."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Xshare:auto", f"-XX:SharedArchiveFile={CDS_ARCHIVE}", "-Xlog:cds=off",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            ] + ADD_OPENS


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_STREAM_CKPT"] = os.path.join(WORK, "ckpt")
    os.makedirs(env["SPARK_GRAFT_STREAM_CKPT"], exist_ok=True)
    return env


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads: the library and harness sources
    and both build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    with open(CLASSPATH_FILE) as f:
        return ":".join(line.strip() for line in f if line.strip())


def build():
    """Compile with sbt and make the class-data-sharing archive, unless the
    sources are unchanged since the last build in this checkout."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        log("the library sources (src/main/scala) are not in this checkout")
        sys.exit(2)
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.exists(CLASSPATH_FILE):
        return
    log("building (sbt) ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "writeClasspath"], cwd=BENCH, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log("build failed:\n" + "\n".join(r.stdout.splitlines()[-40:]))
        sys.exit(2)
    # class-data-sharing archive over the jars, from one plain Spark session
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    probe = os.path.join(WORK, "cds-probe")
    flags = [f for f in jvm_flags("1g") if not f.startswith(("-XX:SharedArchiveFile", "-Xshare"))]
    r = subprocess.run(["java"] + flags + [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}",
                        "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
                        "-cp", classpath(), "graftbench.GenInputs", "0", probe],
                       env=jvm_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True)
    shutil.rmtree(probe, ignore_errors=True)
    if r.returncode != 0:
        log("class-data-sharing archive failed (runs proceed without it):\n" + r.stderr[-2000:])
    # inputs generated by an older build may differ from this one's
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


# ---------------------------------------------------------------- inputs

def generate(workload, seed):
    """The workload's inputs for `seed`. One generator JVM writes every
    workload's inputs for a seed, once per checkout."""
    data = os.path.join(WORK, "data", f"seed{seed}")
    if not os.path.exists(os.path.join(data, "complete")):
        tmp = data + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        r = subprocess.run(["java"] + jvm_flags("1g") + ["-cp", classpath(),
                            "graftbench.GenInputs", str(seed), tmp],
                           env=jvm_env(), stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=120)
        if r.returncode != 0:
            log("input generation failed:\n" + r.stderr[-3000:])
            sys.exit(3)
        open(os.path.join(tmp, "complete"), "w").close()
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return os.path.join(data, workload)


# ---------------------------------------------------------------- host

def host_sample():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return load1, cpu


def steal_share(before, after):
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-expected", action="store_true")
    a = ap.parse_args()
    if a.make_expected and a.seed != DEFAULT_SEED:
        ap.error(f"--make-expected runs at the default seed {DEFAULT_SEED}")
    build()  # a checkout's first run may take longer: it builds
    t_start = time.time()
    data = generate(a.workload, a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    flags = jvm_flags("2g")
    load0, cpu0 = host_sample()
    budget = RUN_DEADLINE_S - (time.time() - t_start)
    proc = subprocess.Popen(["java"] + flags + ["-cp", classpath(), "graftbench.Harness",
                            a.workload, data, out, str(a.seconds), str(a.trace)],
                            env=jvm_env(), stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=max(budget - 15, 10))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("the measured JVM did not finish in time")
        sys.exit(4)
    load1, cpu1 = host_sample()
    if proc.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        log(f"the measured JVM failed (exit {proc.returncode}):\n" + err[-3000:])
        sys.exit(4)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    for line in err.splitlines():
        if "FAILED" in line:
            log(line)

    exp_path = os.path.join(BENCH, "expected", f"{a.workload}.json")
    expected = None if a.make_expected else checks.load_expected(exp_path, a.seed)
    report = checks.check_outputs(res["ops"], res["oracle"], os.path.join(out, "out_first"),
                                  os.path.join(out, "out_last"), data, expected)
    bad_ops = {op for op, r in report.items() if r["problems"]}
    for op in sorted(bad_ops):
        for p in report[op]["problems"]:
            log(f"output check: {op}: {p}")

    timed = [p for p in res["passes"] if p["kind"] in ("timed", "untraced", "traced")]
    attempted = sum(len(p["ops"]) for p in timed)
    failed = sum(1 for p in timed for o in p["ops"] if not o["ok"] or o["name"] in bad_ops)
    untraced = [p for p in timed if p["kind"] != "traced"]
    pass_s = stats.median([p["wall_s"] for p in untraced])
    lat = [o["ms"] for p in untraced for o in p["ops"] if o["ok"]]

    print(f"workload {a.workload}  seed {a.seed}  {res['master']}  trace {a.trace}")
    with open(os.path.join(data, "props.json")) as f:
        print("inputs " + f.read().strip())
    print("jvm " + " ".join(res["jvm_args"]))
    for i, p in enumerate(res["passes"], 1):
        print(f"pass {i:2d} {p['kind']:<9} {p['wall_s']:8.3f} s  ({len(p['ops'])} ops)")
    print(f"host loadavg {load0:.2f} -> {load1:.2f}  cpu_steal {steal_share(cpu0, cpu1):.4f}")
    oracle_ok = sum(1 for r in report.values() if r["oracle"] == "match")
    print(f"output check: {len(report) - len(bad_ops)}/{len(report)} ops ok, "
          f"{oracle_ok} confirmed against the DuckDB oracle"
          + (", expected digests compared" if expected is not None else ""))
    print(f"metric fail_ratio = {failed / attempted:.4f} ratio  ({failed}/{attempted} ops)")

    if a.trace == 0:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        for k, (v, u) in metrics.items():
            extra = f"  (median of {len(untraced)} passes)" if k == "pass_s" else ""
            print(f"metric {k} = {v:.4f} {u}{extra}")
        # printed, not tracked: with 10-18 ops a run it is the latency of one
        # or two particular ops, too unsteady for a bound
        print(f"metric op_p50_ms = {stats.percentile(lat, 50):.4f} ms  (n={len(lat)} ops)")
    else:
        layer = res["per_layer"]
        traced_s = stats.median([p["wall_s"] for p in timed if p["kind"] == "traced"])
        layer["trace.overhead_ms"] = (traced_s - pass_s) * 1000.0
        print(f"tracing overhead = {traced_s - pass_s:+.4f} s per pass (traced pass_s "
              f"{traced_s:.4f} s, untraced {pass_s:.4f} s)")
        print(f"trace spans: {os.path.relpath(os.path.join(out, 'trace.json'), REPO)}")
        metrics = {k: (v, layer_unit(k)) for k, v in layer.items()}
        for k, (v, u) in sorted(metrics.items()):
            print(f"layer {k} = {v:.4f} {u}")

    if a.make_expected:
        write_expected(exp_path, a, res, report, bad_ops)

    print(json.dumps({"correct": not bad_ops and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def layer_unit(name):
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name == "exec.core_busy":
        return "ratio"
    return "count"


def write_expected(path, a, res, report, bad_ops):
    if bad_ops:
        log("not writing expected digests: the output check failed")
        sys.exit(5)
    covered = [op for op in res["ops"] if op in res["oracle"]]
    unconfirmed = [op for op in covered if report[op]["oracle"] != "match"]
    if unconfirmed:
        log(f"not writing expected digests: oracle not confirmed for {unconfirmed}")
        sys.exit(5)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    doc = {"workload": a.workload, "seed": a.seed, "cores": res["cores"],
           "ops": {op: dict(report[op]["digest"], oracle=report[op]["oracle"])
                   for op in res["ops"]}}
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"wrote {os.path.relpath(path, REPO)}")


if __name__ == "__main__":
    main()
