#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

Usage (from the repository root):
    python3 perfbench/run.py --workload <solver-loop|pipeline-soak>
                             --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the harness with sbt.
Each run then starts one JVM (`perfbench.Main`) that creates the session,
runs one untimed warm-up pass and times whole passes of the workload: a
fixed minimum per workload (2 for solver-loop, 4 for pipeline-soak), and
more only while `--seconds` has not passed. Every query result is written to
parquet. This script then checks every timed result against its DuckDB oracle and prints
the metrics. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics.

With `--trace 1` the timed region is split into quarters run untraced,
traced, traced, untraced; the traced ones record spans and a Spark
listener's job, stage and task metrics. The metrics are then the per-layer
ones, with the tracing overhead against the untraced quarters.

Run artifacts (build, result files, span files) stay under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from benchlib import digest, layers  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("solver-loop", "pipeline-soak")
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 160
CORES = 4
HEAP = "4g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"<missing>")
    return h.hexdigest()


def classpath_fingerprint(cp):
    """Hash of (path, size, mtime) of every file on the classpath. The
    engine's classes live in the root build's target/, which a root
    `sbt compile` rewrites, so a cached classpath is reused only while
    those files are the ones the cached build left."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        p = Path(entry)
        for f in sorted(x for x in p.rglob("*") if x.is_file()) if p.is_dir() else [p]:
            try:
                st = f.stat()
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
            except OSError:
                h.update(f"{f}:missing\n".encode())
    return h.hexdigest()


def build():
    """Compiles engine and harness once per source state; returns the
    runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"engine build not found under {ROOT}")
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file, fp_file = WORK / "classpath.txt", WORK / "fingerprint.txt"
    fp = source_fingerprint()
    if cp_file.exists() and fp_file.exists():
        cp = cp_file.read_text().strip()
        if fp_file.read_text() == fp + classpath_fingerprint(cp):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    log = WORK / "build.log"
    with open(log, "w") as out:
        r = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export Runtime/fullClasspath"],
                        cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if r != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {r}); log in {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    fp_file.write_text(fp + classpath_fingerprint(cp))
    return cp


def run_bounded(cmd, cwd, env, stdout, timeout):
    """Runs `cmd` in its own process group; kills the whole group and waits
    for it if it outlives `timeout` seconds. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(cp, args, out_dir, deadline):
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={out_dir / 'spark-local'}", f"-Djava.io.tmpdir={out_dir / 'tmp'}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(args.data), "--out", str(out_dir), "--cores", str(CORES)]
    (out_dir / "tmp").mkdir(parents=True, exist_ok=True)
    log = out_dir / "jvm.log"
    with open(log, "w") as out:
        r = run_bounded(cmd, cwd=out_dir, env=dict(os.environ), stdout=out,
                        timeout=deadline - time.monotonic())
    if r != 0 or not (out_dir / "result.json").exists():
        tail = [l for l in log.read_text(errors="replace").splitlines()
                if "perfbench" in l or "Exception" in l or "Error" in l][-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark process failed (exit {r}); log in {log}")


def oracle_digests(con, entries):
    """Expected digest per entry, computed once per (SQL, input files) and
    cached in the checkout."""
    cache = WORK / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    out = {}
    for e in entries:
        data = Path(e["data"])
        key = hashlib.sha256(e["oracle_sql"].encode())
        for p in sorted(data.glob("*.parquet")):
            st = p.stat()
            key.update(f"{p.name}:{st.st_size}:{st.st_mtime_ns}".encode())
        f = cache / f"{key.hexdigest()}.txt"
        if not f.exists():
            for p in sorted(data.glob("*.parquet")):
                con.execute(f"CREATE OR REPLACE VIEW {p.stem} AS SELECT * FROM '{p}'")
            f.write_text(digest.sql_digest(con, e["oracle_sql"]))
        out[e["name"]] = f.read_text()
    return out


def check(result, plan):
    """Marks every timed execution correct or not; returns the counts."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{WORK / 'duckdb-tmp'}'")
    con.execute("SET threads TO 4")
    expected = oracle_digests(con, plan)
    attempted = failed = 0
    for region in result["regions"]:
        if region["label"] == "warm":
            continue
        for x in region["execs"]:
            attempted += 1
            if x["error"] is None:
                got = digest.parquet_digest(con, x["path"])
                x["correct"] = got == expected[x["entry"]]
                if not x["correct"]:
                    x["error"] = f"oracle mismatch: got {got}, expected {expected[x['entry']]}"
            else:
                x["correct"] = False
            if not x["correct"]:
                failed += 1
                print(f"perfbench: FAILED {x['entry']} ({region['label']}): {x['error']}",
                      file=sys.stderr)
    return attempted, failed


def host_stamp(result):
    cpu = ""
    try:
        for line in open("/proc/cpuinfo"):
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    except OSError:
        pass
    h = dict(result["host"])
    h.update(nproc=os.cpu_count(), cpu=cpu, machine=platform.machine())
    return h


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", type=Path,
                    default=Path(os.environ.get("PERFBENCH_DATA", "/root/testdata")),
                    help="directory holding the sf0.01 testdata")
    args = ap.parse_args()
    # a terminated run still stops and waits for the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_DEADLINE_S
    if not (args.data / "sf0.01" / "lineitem.parquet").is_file():
        fail(f"testdata not found: {args.data / 'sf0.01'}")

    cp = build()
    deadline = max(deadline, time.monotonic() + RUN_DEADLINE_S)
    out_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    run_jvm(cp, args, out_dir, deadline)
    result = json.loads((out_dir / "result.json").read_text())
    plan = json.loads((out_dir / "plan.json").read_text())
    attempted, failed = check(result, plan)

    spans = None
    if args.trace:
        spans = json.loads((out_dir / "spans.json").read_text())
    metrics, extra = layers.summarise(result, spans, args.trace == 1, CORES)
    host = host_stamp(result)

    results_dir = WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "attempted": attempted, "failed": failed,
              "metrics": metrics, "extra": extra}
    (results_dir / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if spans is not None:
        shutil.copy(out_dir / "spans.json", results_dir / f"{stem}.spans.json")
    shutil.rmtree(out_dir / "res", ignore_errors=True)
    shutil.rmtree(out_dir / "spark-local", ignore_errors=True)
    shutil.rmtree(out_dir / "tmp", ignore_errors=True)

    print(f"host: nproc={host['nproc']} jvm={host['jvm']} spark={host['spark']} "
          f"canary_s={host['canary_s']:.4f} cpu={host['cpu']}")
    for k, v in {**metrics, **extra}.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
