#!/usr/bin/env python3
"""graft benchmark: one command that builds the checkout, runs one workload
in one host-sized JVM, checks every output, and prints the metrics.

    python3 perfbench/run.py --workload map_pyramid --seed 1 --seconds 20 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer ones and writes the spans. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for the workloads and metrics.
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "graft")
# The measured input of each workload; both warm up on the sf0.001 tables.
DATA = {"map_pyramid": os.path.join(HERE, "data", "sf0.01"),
        "corpus_daily": os.path.join(HERE, "data", "sf0.1")}
WARM_DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected.json")
RUN_LIMIT_S = 170.0
# What the program's own build compiles; a change to any of it rebuilds.
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")
# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s",
             "output_mb": "MB", "peak_exec_mem_mb": "MB"}
EPSGS = ("3857", "4326", "3575", "3031")
LAYER_UNITS = dict(
    [("driver.jobs", "count"), ("driver.stages", "count"), ("driver.tasks", "count"),
     ("driver.eager_actions", "count"), ("driver.plan_s", "s"), ("driver.idle_s", "s"), ("driver.cpu_per_wall", "ratio"),
     ("exec.task_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_write_mb", "MB"),
     ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_records", "count"),
     ("exec.fetch_wait_s", "s"), ("exec.spill_mb", "MB"), ("exec.stage_skew", "ratio"),
     ("map.prepare_s", "s"), ("map.fanout", "ratio"), ("map.split_s", "s"),
     ("points.sink_s", "s")]
    + [("tiles.build_s." + e, "s") for e in EPSGS]
    + [("tiles.pixels", "count"), ("tiles.tiles", "count"), ("tiles.addr_fanout", "ratio"),
       ("tiles.cascade_s", "s"), ("io.encode_s", "s"), ("io.sort_sink_s", "s"),
       ("io.tile_mb", "MB"), ("io.point_mb", "MB"),
       ("llm.hygiene_s", "s"), ("llm.neardup_s", "s"), ("llm.span_scrub_s", "s"),
       ("llm.mixing_s", "s"), ("llm.packing_s", "s"), ("llm.remix_s", "s"),
       ("llm.neardup_yield", "ratio"), ("llm.docs_kept_frac.hygiene", "ratio"),
       ("llm.docs_kept_frac.neardup", "ratio"), ("llm.docs_kept_frac.span_scrub", "ratio"),
       ("llm.docs_kept_frac.mixing", "ratio"), ("streaming.admit_hygiene_s", "s"),
       ("streaming.admit_neardup_s", "s"), ("streaming.admit_span_scrub_s", "s"),
       ("streaming.merge_s", "s"), ("trace.overhead_s", "s"), ("trace.spans", "count")])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log("perfbench: " + msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt (offline) once per
    source state; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("the program's sources are missing: no %s in %s" % (need, ROOT))
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, classpath = f.read() == stamp, g.read().strip()
        if same and all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath, stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("perfbench: building (sbt, offline)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed (sbt exit %d)" % proc.returncode)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("perfbench: built in %.1f s" % (time.time() - t0))
    return classpath, stamp


# ---------------------------------------------------------------- host

def host():
    """Cores and memory of this host; the heap follows the repository's
    tier-1 rule: half of MemTotal in GiB, clamped to 2..8."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    return {"nproc": cpus, "mem_total_kb": mem_kb, "heap": "%dg" % heap_g}


def steal_s():
    """CPU time the hypervisor gave to other guests, over all cores, so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- run

def run_jvm(classpath, h, args, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx" + h["heap"], "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dderby.system.home=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(h["nproc"]),
            "--data", DATA[args.workload], "--warm", WARM_DATA, "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - args.t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run did not end within %.0f s" % RUN_LIMIT_S)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            log(f.read()[-6000:])
        fail("the JVM exited with %d" % proc.returncode)
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def in_pass(events, p, key):
    return [e for e in events if p["start_ms"] <= e[key] <= p["end_ms"]]


def wall(p):
    return (p["end_ms"] - p["start_ms"]) / 1e3


def end_to_end(raw):
    passes = raw["passes"]
    ops = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in raw["ops"] if o["ok"]]
    stages = [in_pass(raw["stages"], p, "submit_ms") for p in passes]
    return {
        "setup_s": raw["setup_s"],
        "wall_s": stats.median(wall(p) for p in passes),
        "op_p50_s": stats.median(ops),
        "cpu_s": stats.median(sum(s["cpu_ns"] for s in st) / 1e9 for st in stages),
        "output_mb": stats.median(sum(s["output_bytes"] for s in st) / 1e6 for st in stages),
        "peak_exec_mem_mb": stats.median(
            max([s["peak_exec_mem"] for s in st] or [0]) / 1e6 for st in stages),
    }


def per_layer(raw, trace_path):
    """Per-layer metrics per traced pass (median over traced passes), plus
    the tracing overhead: traced minus untraced pass wall time."""
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    spans = raw["spans"]
    self_ms = stats.self_times(spans)
    by_span = stats.attribute(raw["stages"], spans)
    rows = []
    for p in traced:
        stages = in_pass(raw["stages"], p, "submit_ms")
        jobs = in_pass(raw["jobs"], p, "start_ms")
        queries = in_pass(raw["queries"], p, "start_ms")
        sp = [s for s in spans if p["start_ms"] <= s["start_ms"] <= p["end_ms"]]

        def span_s(prefix, exact=False):
            return sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in sp
                       if (s["name"] == prefix if exact else s["name"].startswith(prefix)))

        w = wall(p)
        task_cpu = sum(s["cpu_ns"] for s in stages) / 1e9
        critical = max(stages, key=lambda s: s["complete_ms"] - s["submit_ms"], default=None)
        skew = 0.0
        if critical and critical["task_ms"] and stats.median(critical["task_ms"]) > 0:
            skew = max(critical["task_ms"]) / stats.median(critical["task_ms"])
        m = {
            "driver.jobs": len(jobs),
            "driver.stages": len(stages),
            "driver.tasks": sum(s["tasks"] for s in stages),
            "driver.eager_actions": len(queries),
            "driver.plan_s": sum(q["plan_ms"] for q in queries) / 1e3,
            "driver.idle_s": w - stats.union_length(
                [(j["start_ms"], j["end_ms"]) for j in jobs], p["start_ms"], p["end_ms"]) / 1e3,
            "driver.cpu_per_wall": max(0.0, (p["cpu_ns_end"] - p["cpu_ns_start"]) / 1e9
                                       - task_cpu) / w,
            "exec.task_s": sum(s["run_ms"] for s in stages) / 1e3,
            "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
            "exec.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / 1e6,
            "exec.shuffle_records": sum(s["shuffle_records"] for s in stages),
            "exec.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
            "exec.spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
            "exec.stage_skew": skew,
            "map.prepare_s": span_s("map.prepare", True),
            "map.split_s": span_s("map.split", True),
            "points.sink_s": span_s("points.sink", True),
            "llm.hygiene_s": span_s("llm.hygiene", True),
            "llm.neardup_s": span_s("llm.neardup", True),
            "llm.span_scrub_s": span_s("llm.span_scrub", True),
            "llm.mixing_s": span_s("llm.mixing", True),
            "llm.packing_s": span_s("llm.packing", True),
            "llm.remix_s": span_s("CorpusPipeline.remix", True),
            "streaming.admit_hygiene_s": span_s("streaming.admit_hygiene", True),
            "streaming.admit_neardup_s": span_s("streaming.admit_neardup", True),
            "streaming.admit_span_scrub_s": span_s("streaming.admit_span_scrub", True),
            "streaming.merge_s": sum(self_ms[s["id"]] for s in sp
                                     if s["name"] == "CorpusAdmitter.step") / 1e3,
            "trace.spans": len(sp),
        }
        for e in EPSGS:
            m["tiles.build_s." + e] = span_s("tiles.build.EPSG_%s/" % e)
        rows.append(m)
    out = {k: stats.median(r[k] for r in rows) for k in rows[0]} if rows else {}
    out.update(raw["counts"])
    out["trace.overhead_s"] = stats.median(wall(p) for p in traced) - \
        stats.median(wall(p) for p in plain)
    with open(trace_path, "w") as f:
        json.dump({"workload": raw["workload"], "seed": raw["seed"], "spans": [
            dict(s, self_ms=self_ms[s["id"]],
                 stages=[st["stage"] for st in by_span[s["id"]]],
                 cpu_ms=sum(st["cpu_ns"] for st in by_span[s["id"]]) / 1e6)
            for s in spans]}, f)
    return {k: out.get(k, 0.0) for k in LAYER_UNITS}


# ---------------------------------------------------------------- checks

def check(raw, expected):
    """Compare every output digest with the recorded one; return the names
    of the outputs that differ or are missing."""
    bad = []
    seen = set()
    for o in raw["outputs"]:
        seen.add(o["name"])
        if expected.get(o["name"]) != o["digest"]:
            bad.append(o["name"])
    bad += sorted(set(expected) - seen)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, stamp = build()
    args.t0 = time.time()
    h = host()
    with open(EXPECTED) as f:
        expected = json.load(f).get(args.workload, {})
    if not expected:
        fail("no recorded digests for %s in %s" % (args.workload, EXPECTED))

    runs = os.path.join(BUILD, "runs")
    work = os.path.join(runs, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0 = steal_s()
    try:
        raw = run_jvm(classpath, h, args, work, os.path.join(work, "raw.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = check(raw, expected)
    attempted = max(1, len(raw["ops"]))
    failed = min(attempted, sum(1 for o in raw["ops"] if not o["ok"]) + len(bad)
                 + len(raw["errors"]))
    correct = failed == 0
    for e in raw["errors"]:
        log("perfbench: error: " + e)
    for o in raw["ops"]:
        if not o["ok"]:
            log("perfbench: failed operation %s: %s" % (o["name"], o.get("error")))
    for name in bad:
        log("perfbench: output %s does not match its recorded digest" % name)

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    if args.trace:
        metrics = per_layer(raw, os.path.join(BUILD, "results", tag + "-spans.json"))
        units = LAYER_UNITS
    else:
        metrics = end_to_end(raw)
        units = E2E_UNITS
    op_s = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in raw["ops"] if o["ok"]]
    tail = stats.tail_percentile(len(op_s))
    stamp_info = {
        "nproc": h["nproc"], "mem_total_kb": h["mem_total_kb"], "heap": h["heap"],
        "jvm": raw["java_version"], "spark": raw["spark_version"],
        "git_sha": git_sha(), "source_sha256": stamp,
        "sf_dir": os.path.relpath(DATA[args.workload], ROOT), "seed": args.seed, "workload": args.workload,
        "trace": args.trace, "seconds": args.seconds, "passes": len(raw["passes"]),
        "operations": len(raw["ops"]), "jvm_start_s": raw["jvm_start_s"],
        "session_s": raw["session_s"], "warm_up_s": raw["warm_up_s"],
        "op_quartiles_s": stats.quartiles(op_s),
        "op_tail_percentile": tail,
        "op_tail_s": stats.percentile(op_s, tail) if tail else None,
        "host_steal_s": steal_s() - steal0,
    }
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump({"stamp": stamp_info, "result": result}, f, indent=1)

    print("stamp " + json.dumps(stamp_info, sort_keys=True))
    for k in units:
        print("%-34s %14.6f %s" % (k, metrics[k], units[k]))
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
