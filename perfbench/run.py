#!/usr/bin/env python3
"""One benchmark run of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (sbt, cached in
.bench_build/ until a source changes), copies the sf0.1 test corpus into
.bench_cache/, builds the sf1 rung from it once with
graft.tools.MakeScaledCorpus, then runs one JVM that times the workload and
checks every output. The JVM prints the human-readable figures and, as the
last line of standard output, one JSON object with the metrics.

--record 1 instead re-records the expected outputs (perfbench/expected.tsv)
for the workload's rung.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CACHE = os.path.join(ROOT, ".bench_cache")
WORK = os.path.join(ROOT, ".bench_work")
EXPECTED = os.path.join(HERE, "expected.tsv")
SF1_COPIES = 10
RUN_TIMEOUT_S = 170
HEAP = "3g"

# What Spark needs on JDK 17 when it is started outside spark-submit; the
# same list as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group.
    Returns (exit code, stdout text)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit(f"{cmd[0]} timed out after {timeout} s")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # anything the command left behind
        except ProcessLookupError:
            pass
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building engine and harness with sbt")
    t0 = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                           "compile", "export perfbench/Runtime/fullClasspath"],
                          timeout=850, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"sbt build failed (exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def testdata_sf01():
    """The sf0.1 corpus: $GRAFT_TESTDATA_SF01, else the directory TESTDATA.md
    lists for sf 0.1."""
    if os.environ.get("GRAFT_TESTDATA_SF01"):
        return os.environ["GRAFT_TESTDATA_SF01"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m:
        raise SystemExit("TESTDATA.md lists no sf 0.1 directory")
    return m.group(1).rstrip("/")


def java_cmd(cp, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap size, so peak RSS does not depend on when the heap grows.
    # No hsperfdata file: the JVM would write it outside the checkout.
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opens + ["-cp", cp, main] + args)


def prepare(cp):
    """Copies sf0.1 into the cache and builds sf1 from it, once."""
    sf01 = os.path.join(CACHE, "sf0.1")
    if not os.path.isfile(os.path.join(sf01, "_COPIED")):
        src = testdata_sf01()
        if not os.path.isdir(src):
            raise SystemExit(f"sf0.1 test corpus not found at {src}")
        shutil.rmtree(sf01 + ".tmp", ignore_errors=True)
        shutil.copytree(src, sf01 + ".tmp")
        open(os.path.join(sf01 + ".tmp", "_COPIED"), "w").close()
        shutil.rmtree(sf01, ignore_errors=True)
        os.rename(sf01 + ".tmp", sf01)
    sf1 = os.path.join(CACHE, "sf1")
    if not os.path.isfile(os.path.join(sf1, "_PREPARED.json")):
        log(f"building the sf1 rung ({SF1_COPIES} copies of sf0.1), once per checkout")
        shutil.rmtree(sf1, ignore_errors=True)
        shutil.rmtree(sf1 + ".building", ignore_errors=True)
        work = os.path.join(WORK, "prepare")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        code, out = run_group(java_cmd(cp, "perfbench.Prepare", [sf01, sf1, str(SF1_COPIES), work], work),
                              timeout=800, cwd=ROOT, stdin=subprocess.DEVNULL)
        sys.stderr.write(out)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            raise SystemExit(f"sf1 preparation failed (exit {code})")
    with open(os.path.join(sf1, "_PREPARED.json")) as f:
        log(f"sf1 rung: {f.read().strip()}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) and
            os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("no engine sources next to perfbench/: run from a graft checkout")
        return 2
    cp = build()
    prepare(cp)

    work = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--data", CACHE, "--work", work,
                "--out", os.path.join(WORK, "results"), "--expected", EXPECTED, "--record", a.record]
        code, out = run_group(java_cmd(cp, "perfbench.Main", args, work), timeout=RUN_TIMEOUT_S,
                              cwd=ROOT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if a.record == "1":
        sys.stdout.write(out)
        return code
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out[-4000:])
        log(f"the run printed no result (exit {code})")
        return code or 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
