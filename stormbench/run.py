#!/usr/bin/env python3
"""Storm-cycle benchmark: times the pipeline's `Jobs.update` unit and the
streaming gates. See README.md in this directory.

    python3 stormbench/run.py --workload storm_hit_csv --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The first run builds the
program and the harness from source with sbt (offline) into `.bench_build/`;
later runs reuse that build while the sources are unchanged. The last line
of standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("storm_hit_csv", "stream_gates")
# a run ends within RUN_LIMIT_S, plus BUILD_LIMIT_S when it has to build
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit; the same list as the
# program's build (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[stormbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # sbt's temporary files, native libraries and server stay in the checkout
    opts = [f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false"]
    if "SBT_OPTS" in env:
        opts.insert(0, env["SBT_OPTS"])
    else:
        opts += ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # the launcher's own `java -version` probe would write perf data to /tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    env["TMPDIR"] = str(tmp)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the group
    and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build(timeout):
    """Build the program and the harness; return the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    want = digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log("building the program and the harness with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dstormbench.classpath={cp_file}", "writeClasspath"]
    code, _ = run_bounded(cmd, timeout, cwd=HERE, env=sbt_env(),
                          stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        raise RuntimeError(f"sbt build failed with code {code}")
    stamp.write_text(want)
    return cp_file.read_text().strip()


def fork_exec_us(n=100):
    """Median wall time of spawning /bin/true, in microseconds."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        subprocess.run(["/bin/true"], check=False)
        times.append((time.perf_counter() - t0) * 1e6)
    return statistics.median(times)


def fs_type(path):
    """Type of the filesystem holding `path`, from /proc/mounts."""
    best, kind = "", "unknown"
    try:
        for line in Path("/proc/mounts").read_text().splitlines():
            parts = line.split()
            if len(parts) >= 3 and str(path).startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def cpu_times():
    """The aggregate cpu line of /proc/stat (user, nice, system, idle, iowait,
    irq, softirq, steal, ...), or None where there is none."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    except (OSError, ValueError, IndexError):
        return None


def steal_share(before, after):
    """Share of the host's cpu time taken by the hypervisor between two
    samples: other tenants' load, which slows every timing of the run."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / max(1, sum(d)), 4)


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def calibration(jvm_facts, steal):
    work_fs = fs_type(BUILD)
    return {
        "cpu_steal_share": steal,
        "nproc": len(os.sched_getaffinity(0)),
        "heap": f"-Xms{HEAP} -Xmx{HEAP}",
        "fork_exec_us": round(fork_exec_us(), 1),
        "work_fs": work_fs,
        "tmpfs": work_fs == "tmpfs",
        "java_version": jvm_facts.get("java_version"),
        "spark_version": jvm_facts.get("spark_version"),
        "git_commit": git_commit(),
        "source_digest": digest()[:16],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy sizes, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="with --toy: tamper with one view before the oracle reads it")
    args = ap.parse_args(argv)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no program sources under {ROOT}: nothing to benchmark")
        return 2
    try:
        classpath = build(BUILD_LIMIT_S)
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    results = BUILD / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "stormbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)] +
           (["--toy"] if args.toy else []) + (["--corrupt"] if args.corrupt else []))
    # the program's SPARK_* knobs and Spark's own directory overrides would
    # change what is measured or write outside the checkout
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["TMPDIR"] = str(work / "tmp")
    cpu0 = cpu_times()
    try:
        code, out = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True, env=env)
    except subprocess.TimeoutExpired:
        log("the benchmark JVM ran out of time and was stopped")
        shutil.rmtree(work, ignore_errors=True)
        return 3
    steal = steal_share(cpu0, cpu_times())
    lines = [l for l in out.splitlines() if l.strip()]
    for name in (f"{tag}.calls.json", f"{tag}.spans.jsonl"):
        if (work / name).is_file():
            shutil.move(str(work / name), str(results / name))
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"the benchmark JVM exited with code {code} and no result")
        print("\n".join(lines[-20:]), file=sys.stderr)
        return code or 4
    facts = {}
    for l in lines[:-1]:
        if l.startswith("[stormbench] jvm "):
            facts.update(json.loads(l[len("[stormbench] jvm "):]))
        else:
            print(l)
    calib = calibration(facts, steal)
    print(f"[stormbench] calibration {json.dumps(calib, sort_keys=True)}")
    calls = results / f"{tag}.calls.json"
    if calls.is_file():
        detail = json.loads(calls.read_text())
        detail["calibration"] = calib
        calls.write_text(json.dumps(detail, indent=1) + "\n")
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
