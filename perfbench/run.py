"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source on first use (see build.py),
then runs perfbench.Main in one JVM against local[<cores>]. The first run of
each workload also saves the JVM's class-data archive of the classes it
loaded; later runs map it instead of loading and verifying those classes
again, which cuts the first-touch cost every run pays before its steady
passes (none of it is in the metrics). The result line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Exits non-zero,
printing no result, when the build fails, the run aborts, times out, or its
output is malformed; exits 1 after printing the result when a check failed.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["fit-score", "curate"]
RUN_TIMEOUT_S = 175
HEAP = "2g"

# What spark-submit would add on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def result_line(stdout: str):
    for line in reversed(stdout.strip().splitlines()):
        try:
            r = json.loads(line)
        except ValueError:
            continue
        if (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
                and isinstance(r["attempted"], int) and r["attempted"] >= 1):
            return r
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = build.build_root() / "perfbench"
    scratch = out / "run"
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    archive = out / f"{a.workload}.jsa"
    dumping = out / f"{a.workload}.jsa.part"
    cds = ([f"-XX:SharedArchiveFile={archive}"] if archive.is_file()
           else [f"-XX:ArchiveClassesAtExit={dumping}"])
    cmd = ([build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={scratch / 'tmp'}"] + cds
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--scratch", str(scratch)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=str(scratch))
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        if dumping.is_file():
            dumping.unlink()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    if dumping.is_file():
        if proc.returncode in (0, 1):
            dumping.rename(archive)
        else:
            dumping.unlink()
    r = result_line(stdout)
    if r is None or proc.returncode not in (0, 1):
        sys.stderr.write(stdout)
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 4
    print(json.dumps(r))
    return 0 if r["correct"] and r["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
