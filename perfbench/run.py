#!/usr/bin/env python3
"""Export benchmark: UMLS-shaped RRF releases through `UmlsPipeline`.

Usage (from the repository root):

    python3 perfbench/run.py --workload one_big_sab --seed 1 --seconds 10 \
        --trace 0

Builds the program and the benchmark's JVM runner (ExportBench) from
source on first use (sbt, offline), generates the workload's release from
the seed, runs one JVM that sets up a Spark session, exports the release
repeatedly and hashes every output, then checks the first export against
the generator's ground truth and every later one against the first. The
last line of standard output is one JSON object: `correct`, `attempted` and
`failed` ontology exports, and the end-to-end metrics (`--trace 0`) or the
per-layer metrics (`--trace 1`).
See README.md for the workloads, metrics and bounds.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build", "perfbench")
# Class-data archive of the classes a set-up loads, recorded by the build:
# it cuts the JVM's cold start (not a measured figure) by 5-10 s a run.
ARCHIVE = os.path.join(STATE, "setup.jsa")
CORES = len(os.sched_getaffinity(0))

WORKLOADS = {
    # name: extra ExportBench flags (the UmlsExportMain flags each run uses)
    "one_big_sab": [],
    "release_sweep": ["--shared-scan", "--parallel", str(CORES)],
    "hot_code_sab": [],
}
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800

# Module flags Spark needs on JDK 17 outside spark-submit, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [
    # (metric, unit, export field, export kind)
    ("export_s", "s", "wall_s", "timed"),
    ("export_cpu_s", "s", "cpu_s", "timed"),
    ("export_shuffle_mb", "MB", "shuffle_mb", "timed"),
    ("driver_heap_peak_mb", "MB", "storage_peak_mb", "timed"),
]
LAYERS = [
    # (metric, unit); medians over the traced exports
    ("sources.scan_s", "s"), ("sources.scan_cpu_s", "s"),
    ("sources.rows_read", "count"), ("sources.input_mb", "MB"),
    ("sources.shared_cache_mb", "MB"),
    ("assemble.spine_s", "s"), ("assemble.spine_cpu_s", "s"),
    ("assemble.spine_shuffle_mb", "MB"), ("assemble.spill_mb", "MB"),
    ("assemble.codes", "count"), ("assemble.finish_s", "s"),
    ("assemble.finish_cpu_s", "s"),
    ("render.render_s", "s"), ("render.render_cpu_s", "s"),
    ("render.terms", "count"), ("render.out_mb", "MB"),
    ("sink.write_s", "s"), ("sink.driver_cpu_s", "s"),
    ("sink.sort_shuffle_mb", "MB"), ("sink.files", "count"),
    ("sink.out_mb", "MB"),
    ("pipeline.prelude_s", "s"), ("pipeline.self_s", "s"),
]
RUNTIME = [
    # (metric, unit, export field, export kind); medians over the untraced
    # exports of that kind
    ("pipeline.jobs", "count", "jobs", "timed"),
    ("pipeline.tasks", "count", "tasks", "timed"),
    ("runtime.codegen_compiles", "count", "codegen_compiles", "timed"),
    ("runtime.codegen_s", "s", "codegen_s", "timed"),
    ("runtime.jit_s", "s", "jit_s", "timed"),
    ("runtime.gc_s", "s", "gc_s", "timed"),
    ("runtime.first_export_s", "s", "wall_s", "first"),
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def host_sample():
    """CPU steal (jiffies) and 1-minute load average, for the run log."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"steal_jiffies": int(cpu[8]), "total_jiffies": sum(map(int, cpu[1:])),
            "loadavg_1m": load}


def sources_stamp():
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        paths += sorted(glob.glob(os.path.join(base, "**", "*.*"),
                                  recursive=True))
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and ExportBench with sbt unless up to date;
    return the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in proc.stdout.splitlines()
             if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not lines:
        raise SystemExit("build printed no classpath")
    os.makedirs(STATE, exist_ok=True)
    classpath = jar_directories(lines[-1].strip())
    record_archive(classpath)
    log("built in %.0f s" % (time.time() - t0))
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def jar_directories(classpath):
    """Pack each class directory on the classpath into a jar under STATE:
    a class-data archive accepts only jars."""
    entries = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(STATE, "classes-%d.jar" % i)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in sorted(os.walk(entry)):
                    for name in sorted(files):
                        path = os.path.join(d, name)
                        z.write(path, os.path.relpath(path, entry))
            entry = jar
        entries.append(entry)
    return os.pathsep.join(entries)


def record_archive(classpath):
    """Set up once on a generated release and archive the loaded classes.
    Runs go on without the archive if this fails."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(STATE, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    lake = os.path.join(work, "lake")
    gen.make_release("one_big_sab", 0, lake)
    rc = run_jvm(classpath, work, [
        "--lake", lake, "--conf", os.path.join(lake, "umls.conf"),
        "--work", work, "--result", os.path.join(work, "result.json"),
        "--setup-only"], os.path.join(STATE, "archive.log"),
        ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        log("no class-data archive (exit %d); runs start without it" % rc)


def run_jvm(classpath, work, args, log_path, jvm_flags=None):
    if jvm_flags is None:
        jvm_flags = (["-XX:SharedArchiveFile=" + ARCHIVE]
                     if os.path.exists(ARCHIVE) else [])
    cmd = ["java", "-Xmx3g", "-Xss4m"] + jvm_flags + [
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.ExportBench"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "a") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=out,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated run still stops its JVM and deletes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "pipeline", "UmlsPipeline.scala")):
        raise SystemExit("perfbench: no program sources under %s" % ROOT)
    before = host_sample()
    classpath = build()

    work = os.path.join(STATE, "run-%s-%d-%d" % (a.workload, a.seed,
                                                  os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    lake = os.path.join(work, "lake")
    truth = gen.make_release(a.workload, a.seed, lake)
    log_path = os.path.join(work, "jvm.log")
    base = ["--lake", lake, "--conf", os.path.join(lake, "umls.conf")]
    try:
        main_dir = os.path.join(work, "main")
        os.makedirs(main_dir)
        res = os.path.join(main_dir, "result.json")
        rc = run_jvm(classpath, main_dir, base + [
            "--work", main_dir, "--result", res, "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + WORKLOADS[a.workload], log_path)
        if rc != 0:
            shutil.copy(log_path, os.path.join(STATE, "failed-jvm.log"))
            raise SystemExit("ExportBench failed (exit %d); log in %s" % (
                rc, os.path.join(STATE, "failed-jvm.log")))
        with open(res) as f:
            result = json.load(f)
        summary = summarize(result, truth, a.trace == 1)
    finally:
        after = host_sample()
        shutil.rmtree(work, ignore_errors=True)
    total = max(1, after["total_jiffies"] - before["total_jiffies"])
    log("host: steal %.2f%% of cpu time, load %.2f -> %.2f" % (
        100.0 * (after["steal_jiffies"] - before["steal_jiffies"]) / total,
        before["loadavg_1m"], after["loadavg_1m"]))
    print(json.dumps({"host": {"start": before, "end": after}}))
    print(json.dumps(summary))


def summarize(result, truth, traced):
    exports = result["exports"]
    setups = result["setup_s"]
    ontologies = truth["ontologies"]
    # Ground truth for the first export's files; identity for the rest.
    first = exports[0]
    good = {}
    for o in ontologies:
        path = os.path.join(first["dir"], o["file"])
        problems = (check.check_file(path, o) if os.path.exists(path)
                    else ["missing file"])
        if problems:
            log("%s: %s" % (o["file"], "; ".join(problems[:5])))
        elif first["error"] is None and o["file"] in first["hashes"]:
            good[o["file"]] = first["hashes"][o["file"]]
    attempted = failed = 0
    mismatched = 0
    for e in exports:
        errors = {r["file"]: r["errors"] for r in e["reports"]}
        for o in ontologies:
            attempted += 1
            name = o["file"]
            ok = (e["error"] is None and errors.get(name, 1) == 0
                  and name in good and e["hashes"].get(name) == good[name])
            if not ok:
                failed += 1
                if e["error"] is None and errors.get(name, 1) == 0:
                    mismatched += 1
        if e["error"] is not None:
            log("export %d failed: %s" % (e["index"], e["error"]))
    sty = [e["hashes"].get("umls_semantictypes.ttl") for e in exports]
    correct = mismatched == 0 and len(set(sty)) == 1
    for e in exports:
        log("export %3d %-7s wall %6.2f s cpu %6.2f s jit %5.2f s "
            "codegen %3d/%5.2f s gc %5.2f s shuffle %7.2f MB heap %7.1f MB "
            "jobs %4d steal %4.1f%% code cache %5.1f MB (after %.2f s JIT wait)" % (
                e["index"], e["kind"], e["wall_s"], e["cpu_s"], e["jit_s"],
                e["codegen_compiles"], e["codegen_s"], e["gc_s"],
                e["shuffle_mb"], e["storage_peak_mb"], e["jobs"],
                e["steal_pct"], e["code_cache_mb"], e["jit_wait_s"]))
    log("set-up from JVM start %.3f s; timed set-ups %s s" % (
        result["cold_setup_s"], ", ".join("%.3f" % s for s in setups)))

    def med(kind, field):
        return median([e[field] for e in exports
                       if e["kind"] == kind and e["error"] is None])

    metrics = {}
    if not traced:
        metrics["setup_s"] = {"value": median(setups), "unit": "s"}
        for name, unit, field, kind in END_TO_END:
            metrics[name] = {"value": med(kind, field), "unit": unit}
    else:
        layers = [e["layers"] for e in exports
                  if e["kind"] == "traced" and e["error"] is None]
        for name, unit in LAYERS:
            metrics[name] = {"value": median([l[name] for l in layers]),
                             "unit": unit}
        for name, unit, field, kind in RUNTIME:
            metrics[name] = {"value": med(kind, field), "unit": unit}
        untraced = med("timed", "wall_s")
        metrics["trace.overhead_pct"] = {
            "value": 100.0 * (med("traced", "wall_s") / untraced - 1.0),
            "unit": "%"}
        for l in layers:
            log("traced export: wall %.3f s, layer self times sum %.3f s "
                "(%.1f%% of it)" % (l["wall_s"], l["self_sum_s"],
                                    100.0 * l["self_sum_s"] / l["wall_s"]))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
