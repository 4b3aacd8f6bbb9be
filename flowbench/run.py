#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 flowbench/run.py --workload sf0.01 --seed 1 --seconds 30 --trace 0

On first use in a checkout it builds the engine and the benchmark from
source (see build.py), generates the query tables it needs (see
TablesGen.scala) and records a class-data-sharing archive of the classes an
untimed run loads. Then it starts one JVM, which maps that archive, with a
fresh local Spark session. The last stdout line is one JSON object:
correct, attempted, failed and metrics (the end-to-end metrics with
--trace 0, the per-layer ones with --trace 1).

A run does fixed work; --seconds is recorded with it but changes nothing.
Run artifacts (per-query times, spans) land in
.bench_build/flowbench/results/, the JVM's log in .bench_build/flowbench/logs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# a run must end within this many seconds; the build is not counted
RUN_LIMIT_S = 170
# generating the query tables, or recording the class archive: once per checkout
PREPARE_LIMIT_S = 300
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MARK = "FLOWBENCH_RESULT "
# workload -> scale factor of its query tables
WORKLOADS = {"sf0.01": "0.01", "sf0.1": "0.1"}


def jvm(jar, main, args, stem, limit_s, opts=()):
    """Run one class's main in a JVM with its own scratch directory; returns
    its stdout, or None when it failed or ran past limit_s."""
    logs = build.OUT / "logs"
    work = build.OUT / "work" / f"{stem}-{os.getpid()}"
    for d in (logs, work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", *opts]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}{os.pathsep}{build.spark_jars() / '*'}", main,
            *[a.format(work=work) for a in args]]
    try:
        with open(logs / f"{stem}.log", "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=work)
            try:
                out, _ = proc.communicate(timeout=limit_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                sys.stderr.write(f"flowbench: {main} exceeded {limit_s} s and was stopped\n")
                return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(f"flowbench: {main} exited {proc.returncode} (log: {logs / (stem + '.log')})\n")
        return None
    return out


def tables(jar, workload):
    """The workload's query tables, generated on first use; a stamp of the
    generator's source and the scale factor says when to regenerate."""
    sf = WORKLOADS[workload]
    gen = build.BENCH / "src" / "flowbench" / "TablesGen.scala"
    stamp = hashlib.sha256(gen.read_bytes() + sf.encode()).hexdigest()
    root = build.OUT / "tables"
    target = root / workload
    stamp_file = root / f"{workload}.stamp"
    if target.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return target
    tmp = root / f"{workload}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    root.mkdir(parents=True, exist_ok=True)
    if jvm(jar, "flowbench.TablesGen", [sf, str(tmp)], f"tables-{workload}", PREPARE_LIMIT_S) is None:
        raise SystemExit("flowbench: query table generation failed")
    shutil.rmtree(target, ignore_errors=True)
    tmp.rename(target)
    stamp_file.write_text(stamp)
    return target


def class_archive(jar):
    """A class-data-sharing archive of the classes one untimed run (seed 0,
    smallest workload) loads, recorded once per build of the jar. Every
    timed JVM maps it, so no run pays for parsing and verifying the same
    classes from the jars again: set-up and first uses then measure the
    engine, not the class loader."""
    stamp = (build.OUT / "flowbench.jar.stamp").read_text()
    archive = build.OUT / "classes.jsa"
    stamp_file = build.OUT / "classes.jsa.stamp"
    if archive.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return archive
    tmp = build.OUT / "classes.jsa.tmp"
    tmp.unlink(missing_ok=True)
    first = min(WORKLOADS, key=lambda w: float(WORKLOADS[w]))
    out = build.OUT / "archive-run"
    out.mkdir(parents=True, exist_ok=True)
    if jvm(jar, "flowbench.Main",
           ["--workload", first, "--tables", str(tables(jar, first)), "--seed", "0",
            "--seconds", "0", "--trace", "0", "--work", "{work}", "--out", str(out)],
           "archive-run", PREPARE_LIMIT_S, [f"-XX:ArchiveClassesAtExit={tmp}"]) is None \
            or not tmp.is_file():
        raise SystemExit("flowbench: recording the class archive failed")
    tmp.replace(archive)
    stamp_file.write_text(stamp)
    return archive


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"flowbench: unknown workload {args.workload}; known: {', '.join(WORKLOADS)}\n")
        return 2
    jar = build.build()
    tables_dir = tables(jar, args.workload)
    archive = class_archive(jar)
    results = build.OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = jvm(jar, "flowbench.Main",
              ["--workload", args.workload, "--tables", str(tables_dir), "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", "{work}", "--out", str(results)],
              f"{args.workload}-seed{args.seed}-trace{args.trace}", RUN_LIMIT_S,
              [f"-XX:SharedArchiveFile={archive}"])
    lines = [l[len(MARK):] for l in (out or "").splitlines() if l.startswith(MARK)]
    if not lines:
        return 1
    print(json.dumps(json.loads(lines[-1])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
