#!/usr/bin/env python3
"""CDC replay benchmark: build the harness, run one workload, print the result.

Run from the root of a checkout:

    python3 cdcbench/run.py --workload replay_hotkey --seed 1 --seconds 5 --trace 0

The first run in a checkout compiles the library (src/main/scala) and the
harness (cdcbench/src) with sbt, then runs the harness once at smoke size to
dump a class-data archive of the classes it loads, which later JVMs map instead
of loading them from the jars. Later runs reuse both while the sources are
unchanged. Each run starts one JVM, gives it a fresh work directory under
cdcbench/work and deletes that directory afterwards. Traced runs also write a
spans file under cdcbench/out.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. With --trace 0 the metrics are the end_to_end metrics of
BENCHMARK.json, with --trace 1 its per_layer metrics. Any failure to build,
run or produce exactly those metrics exits non-zero without a result line.
"""
import argparse
import hashlib
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB = ROOT / "src" / "main" / "scala"
TARGET = BENCH / "target"
ARCHIVE = TARGET / "classes.jsa"
BUILD_TIMEOUT_S = 480
ARCHIVE_TIMEOUT_S = 180
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module opens.
JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
]

_children = []


def fail(msg, code=1):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def _on_signal(signum, _frame):
    _stop_children()
    sys.exit(128 + signum)


def run_group(cmd, timeout, fatal=True, **kw):
    """Run cmd in its own process group; kill the whole group on timeout,
    then fail the run, or return (None, None) if not fatal."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _stop_children()
        if fatal:
            fail(f"{cmd[0]} exceeded {timeout} s")
        return None, None
    return p.returncode, out


def source_digest():
    h = hashlib.sha256()
    files = sorted(LIB.rglob("*.scala")) + sorted((BENCH / "src" / "main").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def java_cmd(classpath, work, *jvm_flags):
    """The harness JVM: fixed heap, JVM log lines on stderr, work dir as tmp."""
    java = shutil.which("java") or str(pathlib.Path(os.environ.get("JAVA_HOME", "/usr")) / "bin" / "java")
    return [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable",
            "-Xlog:all=warning:stderr", *jvm_flags, *JDK17_OPENS,
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", classpath, "cdcbench.Main"]


def fresh_work(name):
    work = BENCH / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def harness_env():
    # the library reads no benchmark knob; strip any that are set, and the
    # cluster-manager dir override, so every write stays in the work dir
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_") and k not in ("GRAFT_PROFILE", "SPARK_LOCAL_DIRS")}


def dump_archive(classpath):
    """Run the traced harness once at smoke size and archive the classes it
    loaded. Without the archive every run would spend seconds of its set-up
    loading the same Spark classes from the jars. A failed dump leaves no
    archive, and runs then load classes the usual way."""
    ARCHIVE.unlink(missing_ok=True)
    work = fresh_work("archive")
    try:
        code, _ = run_group(
            java_cmd(classpath, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
            ["--workload", "lake_mor", "--seed", "1", "--seconds", "1", "--trace", "1",
             "--events", "3200", "--work", str(work), "--out", str(work / "out")],
            ARCHIVE_TIMEOUT_S, fatal=False, cwd=ROOT, env=harness_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        ARCHIVE.unlink(missing_ok=True)
        print(f"cdcbench: class-data archive dump failed (exit {code}); running without it",
              file=sys.stderr)


def build(digest):
    """Compile with sbt and dump the class-data archive, unless the last
    build was of these exact sources."""
    cp, stamp = TARGET / "classpath.txt", TARGET / "build.stamp"
    if cp.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    stamp.unlink(missing_ok=True)
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    code, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr)
    if code != 0 or not cp.is_file():
        fail(f"build failed (sbt exit {code})")
    classpath = cp.read_text().strip()
    dump_archive(classpath)
    stamp.write_text(digest)
    return classpath


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(line, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(res["failed"], int) or res["failed"] < 0:
        raise ValueError("failed must be a whole number >= 0")
    want = expected_metrics(trace)
    got = res["metrics"]
    if set(got) != set(want):
        raise ValueError(f"missing {sorted(set(want) - set(got))}, "
                         f"unexpected {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m.get("unit") != want[name]:
            raise ValueError(f"{name}: unit {m.get('unit')} != {want[name]}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"{name}: value {v!r}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)
    if not LIB.is_dir():
        fail(f"no library sources at {LIB.relative_to(ROOT)}; run from a checkout root", 2)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    digest = source_digest()
    classpath = build(digest)

    work = fresh_work(f"{args.workload}-{args.seed}")
    archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else []
    cmd = java_cmd(classpath, work, *archive) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--out", str(BENCH / "out"), "--source", digest]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=harness_env(),
                              stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}")
    try:
        check_result(lines[-1], args.trace == 1)
    except ValueError as e:
        fail(f"bad result line: {e}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
