#!/usr/bin/env python3
"""Run one benchmark run of graft and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and caches the runtime classpath
under .bench_build/; later runs reuse it while the sources are unchanged.
Each run starts one fresh JVM (graft.perfbench.Main), which stages seeded
inputs, runs the workload for --seconds, checks every answer and prints
its metrics. For corpus_curate the kept ids are then compared here with
the program's DuckDB oracle SQL for corpus_curation_cc.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("online", "corpus_curate")
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_DEADLINE_S = 165
BUILD_DEADLINE_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads: program sources, build files, benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(root, "src", "main"), os.path.join(root, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root, cache):
    stamp = source_stamp(root)
    cp_file = os.path.join(cache, "classpath.txt")
    stamp_file = os.path.join(cache, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_DEADLINE_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    with open(os.path.join(cache, "build.log"), "w") as f:
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]"))[-4000:] + "\n")
        fail("build failed; the whole log is in .bench_build/build.log", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def oracle_check(out_dir):
    """Compare the kept ids with the DuckDB oracle; returns a list of failures."""
    import duckdb
    with open(os.path.join(out_dir, "curate_oracle.sql")) as f:
        sql = f.read()
    with open(os.path.join(out_dir, "curate_docs.txt")) as f:
        docs = f.read().strip()
    with open(os.path.join(out_dir, "curate_kept.txt")) as f:
        kept = [int(x) for x in f.read().split()]
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    expected = [r[0] for r in con.execute(sql).fetchall()]
    errors = []
    if kept != sorted(expected):
        extra = sorted(set(kept) - set(expected))[:5]
        missing = sorted(set(expected) - set(kept))[:5]
        errors.append(f"kept {len(kept)} ids, oracle {len(expected)}; extra {extra} missing {missing}")
    # self-test: the comparison must reject an answer that lost one id
    if kept and kept[1:] == sorted(expected):
        errors.append("self-test: oracle comparison accepted a perturbed answer")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required", 2)

    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    cp = classpath(root, cache)

    out_dir = os.path.join(HERE, "out")
    work = os.path.join(cache, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(cache, "tmp")
    for d in (out_dir, tmp):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # C1 only: in a JVM that lives about a minute, C2 compilation takes one
        # to two of the four cores for the whole run and competes with Spark's
        # task slots; C1-only runs were shorter, faster and steadier here
        "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
        # C1 alone gets a 48 MB code cache by default. Every curation job
        # and station request loads newly generated classes, so the cache
        # filled within about ten jobs, was flushed, and the recompilation
        # burst (4-7 s of JIT time) slowed whichever operation it hit
        "-XX:ReservedCodeCacheSize=256m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.perfbench.warehouse={os.path.join(cache, 'warehouse')}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out_dir])
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded its deadline", 4)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(stdout[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    if args.workload == "corpus_curate":
        try:
            errors = oracle_check(out_dir)
        except Exception as e:  # an oracle that cannot run is a failed check
            errors = [f"oracle check could not run: {e}"]
        for e in errors:
            print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
        print(f"# oracle=corpus_curation_cc checks={'pass' if not errors else 'FAIL'}")
        result["correct"] = bool(result["correct"] and not errors)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
