#!/usr/bin/env python3
"""The repository benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload analytic_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root.  The first run in a checkout builds the
engine and the harness from source with sbt (into `.bench_build/`); later
runs reuse that build while the sources are unchanged.  Each run generates
its inputs from `--seed`, drives the engine's shipped `EngineSession`
configuration in one JVM with one client, checks every op's output against
DuckDB, and prints one JSON line last: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`).  The line before it is the full run record.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# Inflation copies of the seeded sf0.1 corpus per workload.
WORKLOADS = {"analytic_sf0.1": 1, "scale_10x": 10, "dml_mixed": 1}
THREADS = min(4, len(os.sched_getaffinity(0)))
HEAP = "4g"
STREAM_LEN = 5000
RUN_LIMIT_S = 170
# Kept back from the engine's time limit for checking its outputs, which
# takes under 10 s on every workload.
CHECK_RESERVE_S = 25
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_hash():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Compile engine + harness with sbt unless an up-to-date build exists;
    returns (classpath, source digest)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources (src/main/scala) not found; run from a checkout")
    digest = source_hash()
    stamp = os.path.join(BUILD, "classpath.json")
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["sources"] == digest:
            return s["classpath"], digest
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    spark_submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and spark_submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit)))
    if "SPARK_HOME" not in env:
        die("SPARK_HOME is not set and spark-submit is not on PATH")
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.isfile(repos) else ""))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    lines = [ln.strip() for ln in open(log, errors="replace")]
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        die(f"build failed (exit {p.returncode}):\n{tail(log)}")
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cps[-1]}, f)
    return cps[-1], digest


def run_jvm(classpath, work, args, timeout):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"harness exceeded {timeout:.0f}s:\n{tail(log)}")
    if code != 0:
        die(f"harness exited {code}:\n{tail(log)}")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """Aggregate CPU time counters of /proc/stat, in clock ticks."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def cpu_shares(before, after):
    """Share of CPU time spent busy, waiting on IO, and stolen by the
    hypervisor between two `cpu_times` readings: a contended run shows."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (d[0] + d[1] + d[2] + d[5] + d[6]) / total,
            "iowait": d[4] / total, "steal": d[7] / total}


def table_files(root, version=None):
    """Data files of a table root's manifest (current version by default)."""
    if version is None:
        with open(os.path.join(root, "_current")) as f:
            version = int(f.read().strip())
    with open(os.path.join(root, "_manifests", f"v{version}.manifest")) as f:
        return [os.path.join(root, ln.split("\t")[0]) for ln in f
                if ln.strip() and not ln.startswith("#")]


def storage_metrics(res, changed_rows, writes):
    """Write and space amplification of the DML run, from its files."""
    import pyarrow.parquet as pq
    root = res["table_root"]
    initial = set(table_files(root, 1))
    written = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, "data"))
               for f in fs if f.endswith(".parquet")]
    written = [f for f in written if f not in initial]
    size = os.path.getsize
    bytes_per_row = (sum(map(size, initial)) /
                     sum(pq.read_metadata(f).num_rows for f in initial))
    changed = max(1, sum(changed_rows))
    rows_written = sum(pq.read_metadata(f).num_rows for f in written)
    current = table_files(root)
    fresh = table_files(res["fresh_root"])
    return {
        "write_amp": sum(map(size, written)) / (changed * bytes_per_row),
        "space_amp": sum(map(size, current)) / sum(map(size, fresh)),
        "sources.files_written": len(written) / max(1, writes),
        "sources.rows_rewritten_per_row_changed": rows_written / changed,
        "sources.manifest_files_end": float(len(current)),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    classpath, digest = ensure_build()
    t0 = time.monotonic()
    e2e_units, layer_units = metrics.declared()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        dml = a.workload == "dml_mixed"
        staged = inputs.stage(a.seed, os.path.join(work, "data"),
                              copies=WORKLOADS[a.workload], threads=THREADS)
        os.sync()  # no write-back of the fresh inputs during the timed window
        t_gen = time.monotonic()
        args = ["--workload", a.workload, "--data", os.path.join(work, "data"),
                "--out", os.path.join(work, "out"), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--threads", str(THREADS),
                "--seed", str(a.seed)]
        stream = None
        if dml:
            stream = inputs.dml_stream(a.seed, STREAM_LEN)
            path = os.path.join(work, "stream.tsv")
            with open(path, "w") as f:
                f.writelines(f"{k}\t{s}\n" for k, s in stream)
            args += ["--stream", path, "--cycle", str(len(inputs.CYCLE))]
        res = run_jvm(classpath, work, args,
                      RUN_LIMIT_S - CHECK_RESERVE_S - (time.monotonic() - t0))

        t_jvm = time.monotonic()
        results = res["ops"]
        # The traced run's extra executions: traced, and their untraced pairs.
        traced = res.get("traced_ops", []) + res.get("paired_ops", [])
        extra = {}
        if dml:
            fails, changed = check.replay_dml(
                staged["orders"], stream, results, table_files(res["table_root"]))
            writes = sum(r["kind"] != "read" for r in results)
            extra = storage_metrics(res, changed, writes)
            failed = len(fails) + sum(r["error"] is not None for r in traced)
        else:
            con = check.connect(staged)
            fails = check.check_ops(con, results + traced, res["oracle"])
            failed = sum(r["name"] in fails for r in results + traced)
        attempted = len(results) + len(traced)
        failed = min(failed, attempted)

        e2e = metrics.end_to_end(
            res["setup_s"], results, res["measured_s"], res["heap_peak_mb"],
            failed, attempted, extra.get("write_amp", 1.0),
            extra.get("space_amp", 1.0))
        if a.trace:
            shown = metrics.render(metrics.per_layer(res["layers"], extra), layer_units)
        else:
            shown = metrics.render(e2e, e2e_units)

        q = [r["ms"] for r in results if r["kind"] in ("query", "read")]
        w = [r["ms"] for r in results if r["kind"] not in ("query", "read", "untimed")]
        pct, val, n = metrics.supported_tail(q)
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "nproc": os.cpu_count(),
            "local_n": res["threads"], "heap_max_mb": res["heap_max_mb"],
            "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
            "cpu_share": cpu_shares(cpu_start, cpu_times()),
            "git_commit": git_commit(), "source_sha256": digest,
            "samples": {"query": len(q), "write": len(w),
                        "setup": len(res["setup_s"]), "traced": len(res.get("traced_ops", [])),
                        "paired": len(res.get("paired_ops", []))},
            "query_p50_ms": {"value": e2e["query_p50_ms"], "n": len(q)},
            "query_p90_ms": {"value": e2e["query_p90_ms"], "n": len(q)},
            "query_tail": {"pct": pct, "value": val, "n": n},
            "write_p50_ms": {"value": metrics.percentile(w, 50) if w else None, "n": len(w)},
            "write_p90_ms": {"value": metrics.percentile(w, 90) if w else None, "n": len(w)},
            "failed_frac": failed / attempted,
            "failures": {str(k): v for k, v in fails.items()},
            "setup_runs_s": res["setup_s"], "passes": res.get("passes"),
            "op_ms": [[r["name"], round(r["ms"], 1)] for r in results],
            "end_to_end": e2e, "storage": extra,
            "layers": res.get("layers"),
            "phase_s": {"inputs": t_gen - t0, "engine": t_jvm - t_gen,
                        "check": time.monotonic() - t_jvm},
        }
        print(json.dumps({"record": record}, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": shown}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
