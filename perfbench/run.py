#!/usr/bin/env python3
"""Repository benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke            # all workloads at sf0.01, ~1 min

Run from the root of a checkout. The first run builds the engine plus the
harness from source (sbt, offline) into .bench_build/; later runs reuse
it. Inputs are the engine's fixture tables kept in perfbench/data/ (sf1
is generated from them once per checkout), checked against their pins.
The last line of stdout is {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The full result, with notes and every
metric, is kept under .bench_build/results/ for perfbench/layer_diff.py.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURES = os.path.join(HERE, "data")
DATA = os.path.join(BUILD, "data")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The unmanaged Spark jar directory of the root build (its build.sbt),
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("cannot locate the Spark jars: no unmanagedBase in build.sbt, no SPARK_HOME")


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources (src/main/scala, build.sbt) in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt (first run in this checkout)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if "/classes" in l and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def parquet_rows(path):
    import pyarrow.parquet as pq
    return pq.ParquetFile(path).metadata.num_rows


def file_sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def table_pins(sf_dir):
    got = {}
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            p = os.path.join(sf_dir, name)
            got[name[:-8]] = {"rows": parquet_rows(p), "sha256": file_sha(p)}
    return got


def ensure_inputs(sf, record=False):
    """The directory of the tables at scale `sf`, checked against their row
    counts and sha256 in inputs.json. sf0.01 and sf0.1 are the engine's
    fixture tables, kept in perfbench/data/ and checked on every run; sf1
    is tools/gen_scale.py x10 of the sf0.1 fixtures, generated and checked
    once per checkout."""
    pins_file = os.path.join(HERE, "inputs.json")
    with open(pins_file) as fh:
        pins = json.load(fh)
    if sf == "sf1":
        out = os.path.join(DATA, sf)
        marker = os.path.join(out, "_pinned")
        if os.path.exists(marker) and not record:
            return out
        tmp = out + ".tmp"
        subprocess.run(["rm", "-rf", tmp, out], check=True)
        log("generating", sf)
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_scale.py"),
                        ensure_inputs("sf0.1"), tmp, "10"], check=True, stdout=subprocess.DEVNULL)
        os.rename(tmp, out)
    else:
        out = os.path.join(FIXTURES, sf)
        marker = None
        if not os.path.isdir(out):
            fail(f"no input tables for {sf} in {out}")
    got = table_pins(out)
    if record:
        pins[sf] = got
        with open(pins_file, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
    if pins.get(sf) != got:
        fail(f"inputs {sf} do not match their pinned row counts and hashes")
    if marker:
        open(marker, "w").close()
    return out


def proc_stat():
    """(busy, steal) seconds since boot over all cpus, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [float(x) for x in fh.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    busy = f[0] + f[1] + f[2] + f[5] + f[6]
    steal = f[7] if len(f) > 7 else 0.0
    return busy / tick, steal / tick


def run_jvm(cp, workload, seed, seconds, trace, cfg_file, sf, record=False):
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{workload}-seed{seed}-trace{trace}"
    out = os.path.join(results, tag + ".json")
    spans = os.path.join(results, tag + ".spans.jsonl")
    w = cfg_of(cfg_file)[workload]
    data = ensure_inputs(sf, record)
    if workload.startswith("stream"):
        # feed generation is data build: it runs before the launch clock
        scale = float(sf[2:]) / float(w["sf"][2:])
        subprocess.run([sys.executable, os.path.join(HERE, "feeds.py"), data,
                        os.path.join(work, "feeds"), str(seed), str(seconds), str(scale)],
                       check=True)
    launch = time.time()
    java = ["java"]
    for o in ADD_OPENS:
        java += ["--add-opens", o + "=ALL-UNNAMED"]
    # a pre-touched 2 GiB heap floor and a fixed young generation: the peak
    # resident set then moves when the heap outgrows the floor or native
    # memory grows, not with the collector's sizing decisions of the run
    java += ["-Xms2g", "-Xmx4g", "-Xmn768m", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.local.dir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", cp, "graft.perfbench.Main",
             "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(trace), "--sf", sf, "--data", data, "--work", work,
             "--config", cfg_file,
             "--expected", os.path.join(HERE, "expected"), "--out", out, "--spans", spans,
             "--launch-ms", "%.3f" % (launch * 1000)]
    if record:
        java += ["--record", "1"]
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"))
    busy0, steal0 = proc_stat()
    t0 = time.time()
    proc = subprocess.Popen(java, cwd=work, env=env, stdout=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        subprocess.run(["rm", "-rf", work])
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    while True:
        pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            status = proc.returncode = os.waitstatus_to_exitcode(st)
            break
        if time.time() - t0 > JVM_TIMEOUT_S:
            proc.kill()
            proc.wait()
            subprocess.run(["rm", "-rf", work])
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
        time.sleep(0.05)
    wall = time.time() - t0
    busy1, steal1 = proc_stat()
    subprocess.run(["rm", "-rf", work])
    if status != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with status {status}")
    with open(out) as fh:
        res = json.load(fh)
    jvm_cpu = ru.ru_utime + ru.ru_stime
    # tracing overhead where the run could not measure it in-process: the
    # traced wall minus that of this checkout's untraced run of the seed
    plain = os.path.join(results, f"{workload}-seed{seed}-trace0.json")
    if trace and "load.trace_overhead_s" not in res["layers"] and os.path.exists(plain):
        with open(plain) as fh:
            res["layers"]["load.trace_overhead_s"] = (
                res["metrics"]["wall_s"] - json.load(fh)["metrics"]["wall_s"])
    res["layers"]["load.steal_cores"] = (steal1 - steal0) / wall
    res["layers"]["load.ext_cores"] = max(0.0, (busy1 - busy0) - jvm_cpu) / wall
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)
    return res


def cfg_of(cfg_file):
    with open(cfg_file) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true",
                    help="(maintainers) re-pin inputs.json and expected fingerprints")
    args = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_file) as fh:
        bench = json.load(fh)
    cfg_file = os.path.join(HERE, "workloads.json")
    cfg = cfg_of(cfg_file)
    cp = build()
    if args.smoke:
        sys.exit(smoke(cp, bench, cfg, cfg_file, args.record))
    if args.workload not in cfg:
        fail(f"unknown workload {args.workload!r}")
    res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, cfg_file,
                  cfg[args.workload]["sf"], record=args.record)
    print(json.dumps(contract_line(bench, res, args.trace)), flush=True)


def contract_line(bench, res, trace):
    """The result line. A missing end-to-end metric makes the run
    incorrect; a per-layer metric a workload has no such layer for
    (stream state in a batch workload, say) reads 0."""
    spec = bench["per_layer"] if trace else bench["end_to_end"]
    src = res["layers"] if trace else res["metrics"]
    metrics, missing = {}, []
    for m in spec:
        v = src.get(m["name"])
        if v is None or v != v:
            if not trace:
                missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    notes = [n for n in res.get("notes", []) if "mismatch" in n or "failed" in n]
    for n in notes + [f"missing metric {m}" for m in missing]:
        log(n)
    return {"correct": res["failed"] == 0 and not missing,
            "attempted": max(1, int(res["attempted"])), "failed": int(res["failed"]),
            "metrics": metrics}


def smoke(cp, bench, cfg, cfg_file, record):
    """Every workload once at sf0.01, traced (a traced run also measures the
    end-to-end metrics): every named metric present, no failed operation."""
    ok = True
    for w in cfg:
        res = run_jvm(cp, w, 1, 1, 1, cfg_file, sf="sf0.01", record=record)
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in res["metrics"]]
        missing += [m["name"] for m in bench["per_layer"]
                    if m["name"] not in res["layers"] and applies(m["name"], w)]
        good = not missing and res["error_rate"] == 0
        log(f"smoke {w}: {'ok' if good else 'FAILED'} attempted={res['attempted']} "
            f"failed={res['failed']} missing={missing}")
        for n in res.get("notes", []):
            if "mismatch" in n or "failed" in n:
                log(n)
        ok = ok and good
    print(json.dumps({"smoke": "ok" if ok else "failed"}), flush=True)
    return 0 if ok else 1


def applies(metric, workload):
    """Whether a workload has the layer a per-layer metric measures."""
    stream_only = ("stream.", "state.", "sink.", "sources.list_ms", "load.gen_late_ms")
    batch_only = ("construct.", "plan.", "query.", "materialize.")
    if workload.startswith("stream"):
        return not metric.startswith(batch_only) and metric != "load.trace_overhead_s"
    return not metric.startswith(stream_only)


if __name__ == "__main__":
    main()
