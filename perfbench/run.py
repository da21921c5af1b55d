#!/usr/bin/env python3
"""Build graft and its benchmark harness from source, then run one workload.

    python3 perfbench/run.py --workload <query_mix|ingest_mor|plan_scale> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds with sbt (offline)
into perfbench/target; later runs reuse the build while the sources are
unchanged. The last line of stdout is the run's JSON result. Scratch files
go under perfbench/work and are removed at exit; traces and the latest
results stay in perfbench/out. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = BENCH / "target"
WORKLOADS = ("query_mix", "ingest_mor", "plan_scale")
DATA = os.environ.get("GRAFT_BENCH_DATA", str(Path.home() / "testdata" / "sf0.1"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, a first run stays under 15 minutes
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group and waits for it; on timeout
    the whole group is killed before returning."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the one spark-submit is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not Path(home, "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def build():
    stamp = source_stamp()
    stamp_file, cp_file = TARGET / "bench-stamp", TARGET / "bench-classpath"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {code})")
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


def main():
    # a terminated run still stops its JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-expected", action="store_true",
                    help="rewrite expected/query_mix.tsv from this run")
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"no engine sources at {ENGINE_SRC}: run from a graft checkout")
    if not Path(DATA, "lineitem.parquet").exists():
        fail(f"no sf0.1 inputs at {DATA}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = build()

    work, out = BENCH / "work" / str(os.getpid()), BENCH / "out"
    out.mkdir(exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dgraftbench.dir={BENCH}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--data", DATA,
              "--work", str(work), "--out", str(out)]
           + (["--record-expected"] if a.record_expected else []))
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        code, stdout = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                 stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    if code != 0 or not lines:
        sys.stdout.write(stdout)
        fail(f"run failed (exit {code})")
    result = json.loads(lines[-1])
    mode = "traced" if a.trace == "1" else "untraced"
    (out / f"last-{a.workload}-{mode}.json").write_text(lines[-1] + "\n")
    print("\n".join(lines[:-1]))
    if a.trace == "1":
        print(overhead(out, a.workload, result))
    print(lines[-1])


def overhead(out, workload, traced):
    """Tracing overhead: the traced run's end-to-end numbers against the
    latest untraced run of the same workload in this checkout."""
    f = out / f"last-{workload}-untraced.json"
    if not f.exists():
        return json.dumps({"trace_overhead": "no untraced run of this workload yet"})
    base = json.loads(f.read_text())["metrics"]
    t = traced["metrics"]
    return json.dumps({"trace_overhead": {
        "op_p50_ms": [t["trace.op_p50_ms"]["value"], base["op_p50_ms"]["value"]],
        "ops_per_min": [t["trace.ops_per_min"]["value"], base["ops_per_min"]["value"]],
        "op_p50_ratio": t["trace.op_p50_ms"]["value"] / base["op_p50_ms"]["value"]}})


if __name__ == "__main__":
    main()
