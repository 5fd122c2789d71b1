#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload lake_commit --seed 1 --seconds 5 --trace 0

Run from the repository root. It builds the engine and the harness from
source with sbt on first use (the build is reused while the sources are
unchanged), makes the workload's inputs from the seed, runs the workload
in one JVM on local[N] (N = usable cores) with one closed-loop client,
checks the outputs, and prints one JSON result line last on stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The full run record (host context, raw ops, spans, listener events) is
written under perfbench/.work/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

# the inputs of each workload, made from the seed into a directory
INPUTS = {
    # round 0 builds the base lake during set-up; every pass applies round 1
    "lake_commit": lambda d, seed: datagen.lake_rounds(d, seed, rounds=2, new_per_round=400,
                                                       resent_per_round=40, tombs_per_round=20),
    "llm_curation": lambda d, seed: (datagen.documents(d, seed, 1500),
                                     datagen.embeddings(d, seed, 800)),
}
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 600
TRAIN_LIMIT_S = 200
CDS = os.path.join(HERE, "target", "cds")
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
        files += sorted(glob.glob(os.path.join(base, "**", "*.java"), recursive=True))
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged
    since the last build, then makes the class-data-sharing archive;
    returns the runtime classpath and the archive."""
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    fp = fingerprint(sources())
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built = json.load(fh)
        if built.get("fingerprint") == fp and os.path.exists(built.get("archive", "")):
            return built["classpath"], built["archive"]
    t0 = time.time()
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("sbt build timed out")
    lines = [ln.strip() for ln in out.splitlines()]
    cp = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(out[-4000:])
        fail("sbt build failed")
    classpath, archive = train(cp[-1])
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath, "archive": archive}, fh)
    print("perfbench: built in %.0f s" % (time.time() - t0), file=sys.stderr)
    return classpath, archive


def train(classpath):
    """Makes the class-data-sharing archive the runs start from. The JVM
    archives classes from jars only, so the class directories of the build
    are first packed into jars; then one training run (`perfbench.Train`,
    both workloads on seed-0 inputs) loads the classes the runs load and
    dumps them at exit. Returns the jar classpath and the archive."""
    shutil.rmtree(CDS, ignore_errors=True)
    os.makedirs(CDS)
    entries = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(CDS, "classes%d.jar" % i)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in sorted(os.walk(entry)):
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        entries.append(entry)
    classpath = os.pathsep.join(entries)
    archive = os.path.join(CDS, "classes.jsa")
    args = [os.path.join(CDS, "train")]
    for w in sorted(INPUTS):
        data = os.path.join(CDS, "train", w, "data")
        INPUTS[w](data, 0)
        args += [w, data]
    with open(os.path.join(CDS, "train.log"), "w") as log:
        proc = subprocess.Popen(java(classpath, ["-XX:ArchiveClassesAtExit=" + archive],
                                     os.path.join(CDS, "train"), "perfbench.Train", args),
                                cwd=CDS, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=TRAIN_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail("training run timed out")
    if proc.returncode != 0 or not os.path.exists(archive):
        with open(os.path.join(CDS, "train.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("training run failed")
    shutil.rmtree(os.path.join(CDS, "train"), ignore_errors=True)
    return classpath, archive


def java(classpath, flags, work, main, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + flags
            + [x for p in JAVA_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
            + ["-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-cp", classpath, main] + args)


def stop(proc):
    """Kills a child's whole process group and waits for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().split()[:3]
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat; None if absent."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests in between:
    host noise a CPU canary inside this guest cannot see."""
    if before is None or after is None or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, archive, args, work, deadline):
    cmd = java(classpath, ["-XX:SharedArchiveFile=" + archive], work, "perfbench.Main", args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail("workload run exceeded %d s" % RUN_LIMIT_S, 3)
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("workload JVM exited with %d" % proc.returncode, 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s/src/main/scala" % ROOT)

    classpath, archive = build()
    start = time.time()
    load_before = loadavg()
    cpu_before = cpu_times()
    work = os.path.join(HERE, ".work", "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the inputs are harness work, so their time is recorded but is not
    # part of setup_s
    data = os.path.join(work, "data")
    t0 = time.time()
    INPUTS[a.workload](data, a.seed)
    datagen_s = time.time() - t0
    record_path = os.path.join(work, "jvm_record.json")
    run_jvm(classpath, archive, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, work,
                        record_path], work, start + RUN_LIMIT_S - 10)
    with open(record_path) as fh:
        rec = json.load(fh)

    ops = rec["ops"]
    errors = list(rec["verify_errors"])
    if rec["untimed_failed"]:
        errors.append("%d untimed ops failed" % rec["untimed_failed"])
    if "oracle_sql" in rec["facts"]:
        import oracle
        facts = rec["facts"]
        counts, mismatches = oracle.compare(facts["data_dir"], rec["check_dir"], facts["oracle_sql"])
        errors += mismatches
        for o in ops:  # a timed op whose row count differs from the oracle's failed
            if o[6] and o[3] in counts and o[8] != counts[o[3]]:
                o[6] = False
    attempted = len(ops)
    failed = sum(1 for o in ops if not o[6]) + len(errors)
    values = metrics.per_layer(rec) if a.trace else metrics.end_to_end(rec)

    context = {"seed": a.seed, "workload": a.workload, "trace": a.trace, "nproc": cores(),
               "loadavg_before": load_before, "loadavg_after": loadavg(),
               "steal_frac": steal_frac(cpu_before, cpu_times()),
               "canary_s": rec["canary_s"], "canary_wide_s": rec["canary_wide_s"],
               "datagen_s": datagen_s, "session_s": rec["session_s"],
               "load_s": rec["load_s"], "warmup_s": rec["warmup_s"],
               "pass_s": rec["pass_s"], "pass_jit_ms": rec["pass_jit_ms"], "op_samples": attempted,
               "failed_frac": metrics.ratio(failed, attempted), "errors": errors[:20],
               "wall_s": time.time() - start}
    with open(os.path.join(work, "run_record.json"), "w") as fh:
        json.dump({"context": context, "metrics": values, "record": rec}, fh)
    print("perfbench context: " + json.dumps(context))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
