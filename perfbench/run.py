#!/usr/bin/env python3
"""graft benchmark: three workloads at local[4], one fresh JVM per run.

    python3 perfbench/run.py --workload lake_cdc --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/app/classes.jar with the Scala compiler that ships with
Spark. The first run of each workload after that also records a class
data sharing archive, which makes later runs start faster. The last line
of stdout is the result object; everything else goes to stderr. With
--trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer ones. A failed correctness check makes the exit code nonzero.
`--selftest` runs the JVM-side checker tests instead. See README.md.
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# per workload: the op kinds behind job_p50_ms, lat_p*_ms and scan_p50_ms
KINDS = {
    "lake_cdc": ("cdc_job", "lookup", "scan"),
    "stream_upsert": ("batch", "lag", "sink_read"),
    "corpus_dedup_ann": ("dedup", "topk", "topk_full"),
}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# corpus_dedup_ann's passes kept getting faster for about ten passes at
# the default JIT thresholds. At a tenth of them the slope is much
# shallower after its warm-up cycle, so its few timed passes do not sit
# on the steep part. The other workloads gained nothing from it: their
# cold starts took longer and stream batches ran slower.
JIT_FLAGS = {"corpus_dedup_ann": ["-XX:CompileThresholdScaling=0.1"]}


def load_json(path):
    with open(path) as f:
        return json.load(f)


def declared():
    """Metric name -> unit, for --trace 0 and --trace 1, from BENCHMARK.json."""
    b = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit("perfbench: no program sources at src/main/scala; "
                         "run from the root of a checkout")
    out = []
    for top in (prog, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def zip_dir(src, out):
    """Store the files under `src` in the jar `out`."""
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(src)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src))


def build(jars):
    """Compile program + benchmark once per source state into
    .bench_build/app/classes.jar, with the program's resources beside it
    in resources.jar. Jars, not directories, because class data sharing
    (see run_jvm) archives only classes loaded from jars."""
    srcs = sources()
    res = sorted(os.path.join(d, f) for d, _, fs in os.walk(RESOURCES) for f in fs)
    h = hashlib.sha256(jars.encode())
    for f in srcs + res:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    app = os.path.join(BUILD, "app")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        sf = os.path.join(app, ".stamp")
        if os.path.exists(sf) and open(sf).read() == stamp:
            return app
        log(f"compiling {len(srcs)} sources")
        t0 = time.time()
        classes = os.path.join(BUILD, "classes.tmp")
        tmp = app + ".tmp"
        for d in (classes, tmp):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
             "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("perfbench: compile failed")
        zip_dir(classes, os.path.join(tmp, "classes.jar"))
        zip_dir(RESOURCES, os.path.join(tmp, "resources.jar"))
        shutil.rmtree(classes)
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(app, ignore_errors=True)
        os.rename(tmp, app)
        log(f"compiled in {time.time() - t0:.0f} s")
        return app


def run_jvm(jars, app, args, work, timeout, cds):
    """Run perfbench.Main in a fresh JVM. Class data sharing: the first run
    named `cds` after a build records the classes it loads in an archive
    at exit; later runs map that archive and start several seconds
    faster. The archive lives in `app`, so a rebuild drops it."""
    cp = os.pathsep.join([os.path.join(app, "classes.jar"),
                          os.path.join(app, "resources.jar"), os.path.join(jars, "*")])
    jsa = os.path.join(app, cds + ".jsa")
    cmd = ["java"]
    if os.path.exists(jsa):
        cmd.append("-XX:SharedArchiveFile=" + jsa)
    else:
        cmd.append("-XX:ArchiveClassesAtExit=" + jsa + ".tmp")
    # the archive skips classes it cannot hold (signed jars), one warning each
    cmd.append("-Xlog:cds*=off")
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += JIT_FLAGS.get(cds, [])
    # fixed heap sizing: adaptive resizing makes peak RSS and pause times
    # differ run to run
    cmd += ["-Xms1g", "-Xmx2g", "-Xmn384m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop-tmp"),
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True, cwd=work)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = p.wait(timeout=timeout)
        if code == 0 and os.path.exists(jsa + ".tmp"):
            os.rename(jsa + ".tmp", jsa)
        return code
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---- metrics --------------------------------------------------------------

def end_to_end(raw, workload):
    job, lat, scan = KINDS[workload]
    s = raw["samples"]
    v = raw["values"]
    p50 = lambda k: stats.percentile(s[k], 0.5)[0]
    m = {
        "setup_s": stats.median(s["setup_s"]),
        "peak_rss_mb": v["peak_rss_mb"],
        "ok_frac": 1.0 - raw["failed"] / max(1, raw["attempted"]),
        "job_p50_ms": p50(job),
        "lat_p50_ms": p50(lat),
        "scan_p50_ms": p50(scan),
        "rate_per_s": stats.median(s["rate"]),
        "disk_mb": v["disk_mb"],
    }
    # the sample counts behind the medians, and the highest percentile
    # each could support (none of the light ops reaches a tail)
    counts = {k: (len(s[k]), stats.highest_percentile(len(s[k]))) for k in (job, lat, scan)}
    return m, counts


# span name -> per-layer metric (span duration, summed per op, in ms)
SPAN_METRIC = {
    "core.task": "core.task_ms", "core.step.etl": "core.step_ms.etl",
    "core.step.merge": "core.step_ms.merge", "core.ledger": "core.ledger_ms",
    "layout.commit": "layout.commit_ms", "stream.addBatch": "layout.commit_ms",
    "read.plan": "read.plan_ms", "read.exec": "read.exec_ms",
}


def op_breakdown(raw):
    """Per traced op: wall, per-layer span time, self times, Spark job
    figures and counters. Returns {kind: [op dict, ...]}."""
    spans_by_op = {}
    for sid, parent, op, name, s, e in raw["spans"]:
        spans_by_op.setdefault(op, []).append((sid, parent, name, s, e))
    jobs = raw["jobs"]
    out = {}
    for o in raw["ops"]:
        t0, t1 = o["start"], o["end"]
        sp = spans_by_op.get(o["id"], [])
        selfs = stats.self_times((sid, par, s, e) for sid, par, _, s, e in sp)
        d = {"wall_ms": (t1 - t0) / 1e6, "self_ms": {}, "span_ms": {}}
        for sid, par, name, s, e in sp:
            d["self_ms"][name] = d["self_ms"].get(name, 0) + selfs[sid] / 1e6
            d["span_ms"][name] = d["span_ms"].get(name, 0) + (e - s) / 1e6
        # jobs tagged with this op; a streaming batch owns the stream's
        # jobs that started inside its window
        if o["kind"] == "batch":
            mine = [j for j in jobs if j[3] and t0 <= j[0] <= t1]
        else:
            mine = [j for j in jobs if j[2] == o["id"]]
        d["spark.jobs"] = len(mine)
        d["spark.job_ms"] = stats.union_length(
            (j[0], min(max(j[1], j[0]), t1)) for j in mine) / 1e6
        d["spark.driver_gap_ms"] = d["wall_ms"] - d["spark.job_ms"]
        for i, k in enumerate(["spark.tasks", "spark.task_cpu_ms",
                               "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                               "spark.spill_bytes", "spark.input_bytes",
                               "spark.output_bytes"]):
            d[k] = sum(j[4 + i] for j in mine) / (1e6 if k == "spark.task_cpu_ms" else 1)
        d.update(o["counters"])
        out.setdefault(o["kind"], []).append(d)
    return out


def per_layer(raw, workload, names, untraced):
    """Per-layer metrics of a traced run. `untraced` is the raw record of
    the untraced run of the same workload and seed, or None."""
    job, lat, scan = KINDS[workload]
    by = op_breakdown(raw)
    med = lambda kind, f: stats.median([f(d) for d in by.get(kind, [])])
    m = {k: 0.0 for k in names}
    # layers on the workload's main op
    for name, metric in SPAN_METRIC.items():
        if metric.startswith("read."):
            continue
        if any(name in d["span_ms"] for d in by.get(job, [])):
            m[metric] = med(job, lambda d: d["span_ms"].get(name, 0.0))
    m["core.self_ms"] = med(job, lambda d: d["self_ms"].get("core.task", 0.0))
    for k in ["core.ledger_calls", "models.rows_read", "models.rows_written",
              "models.bytes_written", "layout.versions", "layout.partitions_touched",
              "layout.files_written", "layout.bytes_written",
              "spark.jobs", "spark.job_ms", "spark.driver_gap_ms", "spark.tasks",
              "spark.task_cpu_ms", "spark.shuffle_read_bytes",
              "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
              "spark.output_bytes", "fs.bytes_read", "fs.bytes_written", "os.forks"]:
        m[k] = med(job, lambda d: d.get(k, 0.0))
    # the read layer on the op that reads
    read_kind = lat if workload == "lake_cdc" else scan
    if workload != "corpus_dedup_ann":
        for k in ["read.plan_ms", "read.exec_ms"]:
            name = k[:-3].replace("_", ".")
            m[k] = med(read_kind, lambda d: d["span_ms"].get(name, 0.0))
        for k in ["read.files_scanned", "read.prune_ratio"]:
            m[k] = med(read_kind, lambda d: d.get(k, 0.0))
    # untraced gap: the root span's self time
    m["trace.gap_ms"] = med(job, lambda d: d["self_ms"].get("op." + job, 0.0))
    # overhead: the main op's median here against the untraced run's
    if untraced and untraced["samples"].get(job):
        base = stats.median(untraced["samples"][job])
        m["trace.overhead_pct"] = 100.0 * (stats.median(raw["samples"][job]) - base) / base
    # run-level figures: medians of per-batch samples, then single values
    for k, xs in raw["samples"].items():
        if k in m and xs:
            m[k] = stats.median(xs)
    for k, v in raw["values"].items():
        if k in m:
            m[k] = v
    return m, by


def check_self_time_identity(by):
    """Along each traced op, layer self times plus the root's self time
    (the untraced gap) add up to the op's wall time."""
    for kind, ops in by.items():
        for d in ops:
            total = sum(d["self_ms"].values())
            if d["self_ms"] and abs(total - d["wall_ms"]) > 1e-3:
                raise SystemExit(f"perfbench: self times of a {kind} op sum to "
                                 f"{total} ms, wall is {d['wall_ms']} ms")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(KINDS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    app = build(jars)
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    raw_path = os.path.join(BUILD, "out", f"{tag}.raw.json")
    os.makedirs(os.path.dirname(raw_path), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["selftest", work, raw_path] if a.selftest else \
        [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, raw_path]
    try:
        code = run_jvm(jars, app, args, work, DEADLINE_S,
                       "selftest" if a.selftest else a.workload)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(raw_path):
        raise SystemExit(f"perfbench: the run wrote no record (exit {code})")
    raw = load_json(raw_path)
    for k, xs in raw["samples"].items():
        log(f"{k}: n={len(xs)} median={stats.median(xs):.4g} sum={sum(xs):.4g}")
    bad = [c for c in raw["checks"] if not c[1]]
    for name, ok, detail in raw["checks"]:
        log(("ok  " if ok else "FAIL"), name, detail)
    if a.selftest:
        sys.exit(0 if code == 0 and not bad else 1)
    if code != 0 or bad:
        raise SystemExit(f"perfbench: {len(bad)} correctness check(s) failed (exit {code})")
    failed = raw["failed"]
    e2e_units, layer_units = declared()
    if a.trace == 0:
        m, counts = end_to_end(raw, a.workload)
        log("sample counts", counts)
        units = e2e_units
    else:
        # the untraced run of this seed, if one ran in this checkout
        base_path = os.path.join(BUILD, "out", f"{a.workload}-{a.seed}-0.raw.json")
        untraced = load_json(base_path) if os.path.exists(base_path) else None
        if untraced is None:
            log("no untraced run of this seed: trace.overhead_pct reads 0")
        m, by = per_layer(raw, a.workload, layer_units, untraced)
        check_self_time_identity(by)
        detail = os.path.join(BUILD, "out", f"{tag}.layers.json")
        with open(detail, "w") as f:
            json.dump(by, f, indent=1)
        log("per-op breakdown written to", os.path.relpath(detail, ROOT))
        units = layer_units
    if set(m) != set(units):
        raise SystemExit(f"perfbench: metrics {sorted(set(m) ^ set(units))} "
                         "differ from BENCHMARK.json")
    print(json.dumps({
        "correct": not bad,
        "attempted": raw["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()},
    }))


if __name__ == "__main__":
    main()
