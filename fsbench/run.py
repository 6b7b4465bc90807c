#!/usr/bin/env python3
"""Feature-store benchmark: one seeded workload against graft.api.FeatureStore.

    python3 fsbench/run.py --workload serve|train|ingest --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the library's
sources together with the benchmark (fsbench/build.sbt) and caches the
classpath keyed by a digest of every source file; later runs start the
JVM directly. Each run writes its stamped result document under
fsbench/results/, prints every metric by name and unit, and ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer means of the traced run, whose full span ledger goes to
fsbench/results/ledger-<workload>-s<seed>.json. fsbench/spec.json records
the seeds, each workload's layers and what each metric should move; the
benchmark's own tests run with `cd fsbench && sbt test`.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("serve", "train", "ingest")
END_TO_END = ("setup_s", "ops_per_s", "op_p50_gmean_ms")
RUN_LIMIT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"fsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, so a changed file rebuilds."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless the cached classpath matches `digest`."""
    os.makedirs(TARGET, exist_ok=True)
    stamp = os.path.join(TARGET, "fsbench-build.json")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            with open(stamp) as fh:
                cached = json.load(fh)
            if cached.get("digest") == digest:
                return cached["classpath"]
        tmp = os.path.join(TARGET, "tmp")
        os.makedirs(tmp, exist_ok=True)
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
        lines = [l for l in out.stdout.splitlines() if "classes" in l and os.pathsep in l
                 and not l.startswith("[")]
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stdout[-4000:])
            fail("build failed")
        with open(stamp, "w") as fh:
            json.dump({"digest": digest, "classpath": lines[-1].strip()}, fh)
        return lines[-1].strip()


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                   cwd=ROOT, capture_output=True, text=True, timeout=10).stdout
            return out.stdout.strip() + ("-dirty" if dirty.strip() else "")
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + digest[:16]


def run_jvm(classpath, args, work, log_path, limit_s):
    """Runs the measuring JVM, sampling the 1-minute load average meanwhile."""
    samples = [loadavg()]
    steal0, total0 = cpu_ticks()
    done = threading.Event()

    def sample():
        while not done.wait(0.5):
            samples.append(loadavg())

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    cmd = ["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.fsbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    done.set()
    sampler.join()
    samples.append(loadavg())
    steal1, total1 = cpu_ticks()
    return code, {"start": samples[0], "max": max(samples), "end": samples[-1],
                  "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0)}


def overhead(workload, seed, digest, traced_ops):
    """Traced / untraced ops_per_s, against an untraced run of the same
    sources: the same seed when there is one, else the latest."""
    runs = {}
    for path in glob.glob(os.path.join(RESULTS, f"{workload}-s*-t0.json")):
        with open(path) as fh:
            doc = json.load(fh)
        if doc["stamp"]["source_digest"] == digest:
            runs[path] = doc["metrics"]["ops_per_s"]["value"]
    if not runs:
        return {"ratio": None, "reason": "no untraced run of this workload and these sources yet"}
    same = os.path.join(RESULTS, f"{workload}-s{seed}-t0.json")
    base = same if same in runs else max(runs, key=os.path.getmtime)
    return {"ratio": traced_ops / runs[base], "traced_ops_per_s": traced_ops,
            "untraced_ops_per_s": runs[base], "untraced_run": os.path.basename(base)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no library sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    classpath = build(digest)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    os.makedirs(RESULTS, exist_ok=True)
    work = os.path.join(HERE, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_path = os.path.join(work, "result.json")
    log_path = os.path.join(RESULTS, run_id + ".log")
    try:
        code, load = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out_path, "--work", work], work, log_path, RUN_LIMIT_S)
        if code != 0 or not os.path.exists(out_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"run failed (exit {code}); log in {log_path}")
        with open(out_path) as fh:
            doc = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Spark's task threads, the driver thread, and one for JIT and GC
    own = doc["cores"] + 2
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit_id(digest), "source_digest": digest,
        "nproc": os.cpu_count(), "spark_cores": doc["cores"], "jdk": doc["jdk"], "spark": doc["spark"],
        "loadavg": load, "own_threads": own,
        "contended": load["max"] > own,
    }
    doc["stamp"] = stamp
    if a.trace:
        doc["overhead"] = overhead(a.workload, a.seed, digest, doc["metrics"]["ops_per_s"]["value"])
        ledger_path = os.path.join(RESULTS, f"ledger-{a.workload}-s{a.seed}.json")
        with open(ledger_path, "w") as fh:
            json.dump({"stamp": stamp, "overhead": doc["overhead"], **doc["ledger"]}, fh, indent=1)
    with open(os.path.join(RESULTS, run_id + ".json"), "w") as fh:
        json.dump(doc, fh, indent=1)

    print(f"fsbench {a.workload} seed={a.seed} trace={a.trace} commit={stamp['commit']} "
          f"jdk={stamp['jdk']} spark={stamp['spark']} nproc={stamp['nproc']} "
          f"cores={doc['cores']} loadavg start/max/end="
          f"{load['start']:.2f}/{load['max']:.2f}/{load['end']:.2f} "
          f"steal={load['cpu_steal_share']:.3f}"
          + (f"  CONTENDED: load max exceeds the run's own {own} threads" if stamp["contended"] else ""))
    for name, m in doc["metrics"].items():
        extra = " ".join(f"{k}={v}" for k, v in m.items() if k not in ("value", "unit"))
        print(f"  {name:<18} {m['value']:>14.4f} {m['unit']:<6} {extra}")
    for f in doc["failures"]:
        print(f"  FAILED {f['phase']} {f['op']}#{f['index']}: {f['reason']}")
    if a.trace:
        led = doc["ledger"]
        for name, v in led["per_op"].items():
            print(f"  {name:<40} {v:>14.3f} {led['units'][name.split('.', 1)[1]]}")
        ov = doc["overhead"]
        print("  tracing overhead (traced/untraced ops_per_s): "
              + (f"{ov['ratio']:.3f} vs {ov['untraced_run']}" if ov["ratio"] else ov["reason"]))
        metrics = {k: {"value": v, "unit": led["units"][k]} for k, v in led["per_layer"].items()}
    else:
        metrics = {k: {"value": doc["metrics"][k]["value"], "unit": doc["metrics"][k]["unit"]}
                   for k in END_TO_END if k in doc["metrics"]}
    print(json.dumps({"correct": doc["correct"], "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
