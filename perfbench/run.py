#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft registry gates.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) and generates the input tables; later
runs reuse both. Each run starts one fresh JVM (perfbench.Harness), then
checks the gate outputs it wrote against their DuckDB oracles. The last
stdout line is one JSON object with keys correct, attempted, failed and
metrics: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The full record of a run, with its run context, goes to
perfbench/work/runs/.
"""
import argparse
import hashlib
import json
import glob
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(WORK, "data")
# graft.BoxHealth's machine-state probe, taken once per checkout
BOX_HEALTH = os.path.join(WORK, "box_health.json")
# a run must exit within 180 s once built; the harness gets what is left
HARNESS_DEADLINE_S = 165
JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-Dspark.ui.enabled=false",
     "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program plus harness once per source state; returns the
    runtime classpath."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt")]
    stamp_file = os.path.join(WORK, "build.json")
    stamp = tree_hash(srcs)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b["classpath"]
    log("building program and harness")
    t0 = time.time()
    # offline: the build resolves only from the local caches; SBT_OPTS from
    # the environment (repository overrides) is kept
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    default_opts = "-Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else "")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", default_opts))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp, "build_s": time.time() - t0}, f)
    return cp


def ensure_data():
    """Generates the input tables once per generator version."""
    import datagen
    stamp = tree_hash([os.path.join(HERE, "datagen.py")])
    stamp_file = os.path.join(DATA, "datagen.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            g = json.load(f)
        if g["stamp"] == stamp:
            return g
    log("generating input tables")
    shutil.rmtree(DATA, ignore_errors=True)
    t0 = time.time()
    d = datagen.generate(DATA)
    g = {"stamp": stamp, "datagen_s": time.time() - t0, "dir": d}
    with open(stamp_file, "w") as f:
        json.dump(g, f)
    return g


def box_health():
    with open(BOX_HEALTH) as f:
        return {"probed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                           time.gmtime(os.path.getmtime(BOX_HEALTH))),
                **json.loads(f.read())}


def input_identity(data_dir):
    sizes = {}
    for f in sorted(glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)):
        if os.path.isfile(f):
            sizes[os.path.relpath(f, data_dir)] = os.path.getsize(f)
    return {"dir": os.path.relpath(data_dir, ROOT), "file_bytes": sizes}


def git_context():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return {"git_sha": None, "git_dirty": None}

    def git(*a):
        try:
            return subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True,
                                  timeout=20).stdout.strip()
        except OSError:
            return ""
    sha = git("rev-parse", "HEAD")
    return {"git_sha": sha or None,
            "git_dirty": bool(git("status", "--porcelain", "--untracked-files=no")) if sha else None}


def scratch_paths(tag):
    """Files the program's gates write under /tmp, named after the data dir."""
    return glob.glob(f"/tmp/*{tag}*")


def remove(paths):
    for p in paths:
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.lexists(p):
            os.remove(p)


def cpu_jiffies():
    """(busy, steal) jiffies of all CPUs, from /proc/stat where it exists."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None
    return sum(v) - v[3] - v[4], v[7]


def java(classpath, args, timeout):
    """Runs the harness JVM; its stdout and stderr go to our stderr."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
           "-cp", classpath, "perfbench.Harness", *args]
    p = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"harness exceeded {timeout:.0f} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources next to perfbench/: run from a full checkout")
    gates = workloads.WORKLOADS[a.workload]

    classpath = build()
    gen = ensure_data()
    t_ready = time.time()
    data_dir = gen["dir"]
    tag = os.path.basename(data_dir)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    derby_log_existed = os.path.exists("/tmp/derby.log")
    remove(scratch_paths(tag))
    t_measure = time.time()
    cpu0 = cpu_jiffies()
    out = os.path.join(run_dir, "harness.json")
    check_dir = os.path.join(run_dir, "out")
    try:
        rc = java(classpath, ["--data", data_dir, "--gates", ",".join(gates),
                              "--cpus", str(workloads.CPUS), "--out", out,
                              "--seed", str(a.seed), "--seconds", str(a.seconds),
                              "--trace", str(a.trace), "--min-passes", str(workloads.MIN_PASSES),
                              "--check-dir", check_dir, "--box-health", BOX_HEALTH],
                  t_ready + HARNESS_DEADLINE_S - time.time())
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"harness exited {rc}")
        with open(out) as f:
            rec = json.load(f)
    finally:
        remove(scratch_paths(tag))
        if not derby_log_existed:
            remove(["/tmp/derby.log"])
    measure_s = time.time() - t_measure
    cpu1 = cpu_jiffies()
    # CPU time the hypervisor gave to other guests while this run measured;
    # a high share explains a slow run that the code does not
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0] + cpu1[1] - cpu0[1]) if cpu0 else None

    import oracle
    t_check = time.time()
    oracles = rec["oracles"]
    mismatches = {g: r for g, r in oracle.check(
        data_dir, os.path.join(DATA, "oracle"), check_dir, oracles).items() if r}
    check_s = time.time() - t_check

    result = summarize(a, gates, rec, mismatches)
    record = {
        "run": {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "gates": gates},
        "context": {**git_context(), "nproc": os.cpu_count(),
                    "local": f"local[{workloads.CPUS}]", "jvm_opts": JVM_OPTS,
                    "python": platform.python_version(), **rec.get("context", {}),
                    "input": input_identity(data_dir),
                    "datagen_s": gen["datagen_s"], "box_health": box_health()},
        "timing": {"measure_s": measure_s, "check_s": check_s, "cpu_steal_share": steal,
                   "total_s": time.time() - t_start},
        "harness": {k: v for k, v in rec.items() if k != "spans"},
        "failures": rec["failures"], "mismatches": mismatches,
        "known_defects": {g: workloads.KNOWN_DEFECTS[g] for g in mismatches
                          if g in workloads.KNOWN_DEFECTS},
        "result": result["detail"],
    }
    if a.trace:
        record["spans"] = {"columns": ["id", "parent", "name", "gate", "pass", "start_ms",
                                       "end_ms"], "rows": rec.get("spans", [])}
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    for g, r in mismatches.items():
        known = " (known defect)" if g in workloads.KNOWN_DEFECTS else ""
        log(f"mismatch {g}{known}: {r}")
    for f in rec["failures"]:
        log(f"failure {f['gate']} pass {f['pass']} {f['phase']}: {f['class']}: {f['message']}")
    print(json.dumps(result["line"]))


def summarize(a, gates, rec, mismatches):
    """Turns the harness record into the metric line and its details."""
    warm = rec["warm"]
    per_gate = {}
    for p_ in warm:
        for g in p_["gates"]:
            per_gate.setdefault(g["gate"], []).append(
                g["run_s"] + g["sink_s"] if g["ok"] else math.inf)
    samples = [x for v in per_gate.values() for x in v]
    attempted = len(samples) + len(rec["cold"]["gates"])
    failed = sum(1 for f in rec["failures"] if f["phase"] != "stage")
    p, tail = stats.tail(samples, workloads.MIN_PASSES * len(gates))
    unexpected = [g for g in mismatches if g not in workloads.KNOWN_DEFECTS]
    e2e = {
        # a pass as each gate's median over the passes, so one slow gate
        # execution moves it no more than it moves that gate's median
        "pass_s": sum(stats.median(v) for v in per_gate.values()),
        "gate_p50_s": stats.median(samples),
        "gate_tail_s": tail,
        "cold_pass_s": rec["cold"]["pass_s"],
        "setup_s": rec["session_s"] + rec["stage_s"],
        "heap_peak_mb": rec["heap_peak_mb"],
    }
    detail = {"end_to_end": e2e, "gate_tail": {"percentile": p, "n": len(samples)},
              "passes": len(warm), "fail_ratio": failed / attempted,
              "mismatch_count": len(mismatches), "mismatched": sorted(mismatches)}
    if a.trace:
        def per_pass(k):
            return stats.median([p_["layers"].get(k, 0.0) for p_ in warm])

        def share(num, den, scale=1.0):
            # a share, not a time: it is 0 wherever nothing streams
            return stats.median([p_["layers"].get(num, 0.0) / (scale * p_["layers"][den])
                                 if p_["layers"].get(den) else 0.0 for p_ in warm])

        layers = {m["name"]: per_pass(m["name"]) for m in workloads.PER_LAYER}
        layers["streaming.trigger_share"] = share("streaming.trigger_ms", "trace.pass_s", 1000.0)
        layers["streaming.addbatch_share"] = share("streaming.addbatch_ms", "streaming.trigger_ms")
        # computed as pass_s is, so the two give the tracing overhead
        layers["trace.pass_s"] = e2e["pass_s"]
        layers["core.session_s"] = rec["session_s"]
        layers["core.stage_s"] = rec["stage_s"]
        layers["jvm.jit_ms"] = rec["cold"]["layers"].get("jvm.jit_ms", 0.0)
        layers["fail_ratio"] = detail["fail_ratio"]
        layers["mismatch_count"] = float(len(mismatches))
        detail["per_layer"] = layers
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in workloads.PER_LAYER}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in workloads.END_TO_END}
    line = {"correct": not unexpected and not rec["failures"], "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return {"line": line, "detail": detail}


if __name__ == "__main__":
    main()
