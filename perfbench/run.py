#!/usr/bin/env python3
"""graft benchmark runner.

One run:   python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
All four:  python3 perfbench/run.py --all [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. The first call builds the harness together
with graft's main sources (sbt, offline) and runs the harness self-tests;
later calls reuse the build while the sources are unchanged. Each run is a
fresh JVM (graftbench.Harness). The last line of standard output is the
run's JSON summary; the full result (environment stamp, samples, spans) is
kept under perfbench/out/results/. Exits non-zero on any failed output
check.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(OUT, "build")
# the workloads BENCHMARK.json lists, then the heavier ones that only run by hand
WORKLOADS = ["tpch_build", "query_serve", "wide_dag", "curation_build", "nightly_increment"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build depends on, as paths relative to the root."""
    files = []
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    files += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def commit_id(src_hash):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + src_hash[:16]


def build(src_hash):
    """Compile graft + harness and run the self-tests; cache the classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "test", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                           timeout=BUILD_TIMEOUT_S)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        fail(f"build or self-tests failed (exit {p.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(src_hash)
    return lines[-1].strip()


def run_one(cp, commit, workload, seed, seconds, trace, record=False):
    """One harness JVM; returns (exit code, full result dict or None)."""
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(OUT, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    result = os.path.join(OUT, "results", tag + ".json")
    if os.path.exists(result):
        os.remove(result)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    env.pop("SPARK_MASTER", None)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", os.path.join(HERE, "data"), "--work", work,
            "--examples", os.path.join(ROOT, "examples"),
            "--digests", os.path.join(HERE, "digests.json"), "--out", result, "--commit", commit])
    if record:
        cmd.append("--record")
    with open(os.path.join(OUT, "logs", tag + ".log"), "w") as log:
        # the work dir is the JVM's cwd, so relative paths (spark-warehouse) stay in it
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{tag}: harness did not finish within {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(result):
        fail(f"{tag}: harness exited {code} without a result; see perfbench/out/logs/{tag}.log")
    with open(result) as f:
        return code, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload once")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the output digests to perfbench/digests.json instead of checking them")
    a = ap.parse_args()
    if not a.all and not a.workload:
        fail("give --workload NAME or --all")
    for need in ("src/main/scala/graft/Main.scala", "examples/curation/graft_project.conf"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a graft checkout")
    src_hash = source_hash()
    cp = build(src_hash)
    commit = commit_id(src_hash)
    names = WORKLOADS[:2] if a.all else [a.workload]
    worst, recorded = 0, {}
    for w in names:
        code, res = run_one(cp, commit, w, a.seed, a.seconds, a.trace, a.record)
        worst = max(worst, code)
        for p in res["problems"]:
            print(f"perfbench: {w}: {p}", file=sys.stderr)
        if a.record:
            recorded[w] = res["digests"]
        if a.all:
            ms = res["end_to_end"] if a.trace == 0 else res["per_layer"]
            for k, m in ms.items():
                print(f"{w:18s} {k:32s} {m['value']:>16.6g} {m['unit']}")
    if a.record and worst == 0:
        path = os.path.join(HERE, "digests.json")
        old = json.load(open(path)) if os.path.exists(path) else {}
        old.update(recorded)
        with open(path, "w") as f:
            json.dump(old, f, indent=1, sort_keys=True)
            f.write("\n")
    if a.all:
        print(json.dumps({"correct": worst == 0}))
    else:
        print(json.dumps(res["summary"]))
    sys.exit(1 if worst else 0)


if __name__ == "__main__":
    main()
