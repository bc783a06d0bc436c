#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 etlbench/run.py --workload <etl_daily|corpus_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The launcher

1. builds the engine and the harness from source with sbt (once per source
   state; the build is cached under .bench_build/etlbench),
2. generates the workload's inputs from the seed (gen.py; cached per input
   variant),
3. runs the harness JVM (graft.etlbench.Main), which sets up, runs one
   checked warm pass and then checked, timed passes for --seconds, and
   prints a summary line and the JSON result line last.

--record writes the observed per-unit output digests of the seed's input
variant into etlbench/expected.json instead of checking against it.
Per-layer detail of every run goes to .bench_build/etlbench/out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "etlbench")
EXPECTED = os.path.join(HERE, "expected.json")

# Seeds map onto this many input variants, each with committed expectations.
VARIANTS = 8
ETL_DATES = 2
CORPUS_DOCS = 5000
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files() -> list:
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def build() -> str:
    """Compile engine + harness; return the runtime classpath."""
    stamp = hashlib.sha256()
    for f in source_files():
        stamp.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            stamp.update(hashlib.sha256(fh.read()).digest())
    stamp = stamp.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def run_child(cmd, cwd, env, stdout, timeout, stderr=subprocess.STDOUT) -> int:
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def inputs(workload: str, variant: int) -> tuple:
    """Generate (once) and return the variant's input dir and ETL run dates."""
    sys.path.insert(0, HERE)
    import gen
    kind = "etl" if workload == "etl_daily" else "corpus"
    # keyed by the generator's source and sizes, so a change to either
    # regenerates instead of reusing stale inputs
    key = hashlib.sha256()
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key.update(f.read())
    key.update(f"{ETL_DATES} {CORPUS_DOCS}".encode())
    d = os.path.join(WORK, "inputs", kind, f"v{variant}-{key.hexdigest()[:12]}")
    done = os.path.join(d, "_done")
    dates = [x.isoformat() for x in gen.run_dates(variant, ETL_DATES)]
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        if kind == "etl":
            gen.etl_inputs(d, variant, ETL_DATES)
        else:
            gen.corpus_inputs(d, variant, CORPUS_DOCS)
        open(done, "w").close()
    return d, dates


def merge_expected(record_file: str) -> None:
    with open(record_file) as f:
        new = json.load(f)
    cur = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            cur = json.load(f)
    for wl, variants in new.items():
        cur.setdefault(wl, {}).update(variants)
    with open(EXPECTED, "w") as f:
        json.dump(cur, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> None:
    # a terminated launcher still kills the process group it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_daily", "corpus_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a source checkout ({need} not found)")

    cp = build()
    variant = a.seed % VARIANTS
    in_dir, dates = inputs(a.workload, variant)

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record = os.path.join(run, "record.json")
    cores = len(os.sched_getaffinity(0))

    cmd = ["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.etlbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", in_dir, "--work", run, "--cores", str(cores),
            "--expect", EXPECTED, "--variant", str(variant),
            "--dates", ",".join(dates),
            "--sidecar", os.path.join(out_dir, f"{tag}.json")]
    if a.record:
        cmd += ["--record", record]

    log = os.path.join(out_dir, f"{tag}.log")
    with open(log, "w") as err, open(os.path.join(run, "stdout"), "w") as out:
        rc = run_child(cmd, cwd=ROOT, env=os.environ, stdout=out, stderr=err,
                       timeout=JVM_TIMEOUT_S)
    with open(os.path.join(run, "stdout")) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness failed (exit {rc}); log in {log}")
    if a.record:
        if not json.loads(lines[-1])["correct"]:
            fail(f"not recording: outputs were not deterministic; log in {log}")
        merge_expected(record)
    shutil.rmtree(run, ignore_errors=True)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
