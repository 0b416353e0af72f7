#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Builds the engine together with the benchmark (sbt, offline), runs one
workload in a fresh JVM, checks its outputs and prints one JSON line:

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

Run it from the repository root. Everything it writes stays under
`.bench_build/` in that directory. See perfbench/README.md.
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

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("llm_pipeline", "reference_pipeline")
# the fixed sf0.01 tables TESTDATA.md lists, under the home directory
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", str(Path.home() / "testdata" / "sf0.01"))
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SPARK_HOME" not in env:
        # a Spark distribution on PATH: bin/spark-submit beside jars/
        homes = [Path(os.path.realpath(Path(d) / "spark-submit")).parent.parent
                 for d in env.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").exists()]
        homes = [h for h in homes if (h / "jars").is_dir()]
        if not homes:
            fail("Spark not found: set SPARK_HOME")
        env["SPARK_HOME"] = str(homes[0])
    # sbt's own state and temp files stay under the build directory
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                       f"-Dsbt.global.base={BUILD / 'sbt-global'} -Djava.io.tmpdir={BUILD / 'sbt-tmp'} "
                       "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx3g")
    return env


def build():
    """Compile once per source tree; the classpath is cached by fingerprint."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    cp_file = BUILD / "classpath.txt"
    stamp = BUILD / "classpath.stamp"
    fp = source_fingerprint()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    (BUILD / "sbt-tmp").mkdir(parents=True, exist_ok=True)
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BENCH, 840, env=sbt_env())
    if code != 0:
        tail = "\n".join(out.splitlines()[-30:])
        fail(f"build failed:\n{tail}")
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    cp_file.write_text(lines[-1])
    stamp.write_text(fp)
    return lines[-1]


_children = []


def _stop_children(signum, _frame):
    for proc in _children:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(128 + signum)


def run_child(cmd, cwd, timeout, env=None):
    """Run a command in its own process group, killed on timeout or when
    this script is stopped; returns (exit code, combined output)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    _children.append(proc)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return proc.returncode, out


def jvm(cp, main, args, cwd, timeout):
    tmp = cwd / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={cwd}",
            f"-Dspark.sql.warehouse.dir={cwd / 'warehouse'}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args
    return run_child(cmd, cwd, timeout)


def canon(rel):
    """tools/check.py's canonical form: columns sorted by name, values as
    strings (floats rounded to 9 decimals), rows sorted."""
    import math
    df = rel.df()
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in df.values.tolist():
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else str(round(v, 9))
            elif v is None:
                v = "None"
            else:
                v = str(v)
            vals.append(v)
        rows.append(tuple(vals))
    return sorted(cols), sorted(rows)


def digest(cols, rows):
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def check_digests(check_dir, failures, names):
    """Compare each query's Spark output with the stored DuckDB-oracle digest."""
    import duckdb
    expected = json.loads((BENCH / "expected_digests.json").read_text())[Path(SF_DIR).name]
    con = duckdb.connect()
    bad = 0
    for name in names:
        if any(f["op"] == f"check:{name}" for f in failures):
            continue  # the execution itself failed and is already counted
        out = check_dir / name
        try:
            cols, rows = canon(con.sql(f"SELECT * FROM '{out}/*.parquet'"))
            got = digest(cols, rows)
        except Exception as e:  # noqa: BLE001 - any read error is a failed check
            failures.append({"op": f"digest:{name}", "cause": f"{type(e).__name__}: {e}"[:300]})
            bad += 1
            continue
        want = expected[name]
        if got != want["digest"]:
            failures.append({"op": f"digest:{name}",
                             "cause": f"{len(rows)} rows, digest {got[:12]} != oracle {want['digest'][:12]} "
                                      f"({want['rows']} rows)"})
            bad += 1
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if not Path(SF_DIR).is_dir():
        fail(f"test data {SF_DIR} not found (set PERFBENCH_SF_DIR)")
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = BUILD / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    out = run_dir / "out"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", str(out), "--sf", SF_DIR]
    try:
        code, log = jvm(cp, "perfbench.Main", args, run_dir, JVM_TIMEOUT_S)
        result_file = out / "result.json"
        if code != 0 or not result_file.exists():
            print("\n".join(log.splitlines()[-40:]), file=sys.stderr)
            fail(f"benchmark JVM exited with {code}")
        res = json.loads(result_file.read_text())
        failures = res["failures"]
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "llm_pipeline":
            names = res["notes"]["queries"].split(",")
            failed += check_digests(out / "check", failures, names)

        keep = BUILD / "results" / tag
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        for f in ("result.json", "spans.jsonl"):
            if (out / f).exists():
                shutil.copy(out / f, keep / f)
        (keep / "log.txt").write_text(log)
        (keep / "failures.json").write_text(json.dumps(failures, indent=1))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f['op']}: {f['cause']}", file=sys.stderr)
    for k, v in res.get("notes", {}).items():
        print(f"note {k}: {v}", file=sys.stderr)
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
