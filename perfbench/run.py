#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds T --trace 0|1

Run from the root of a graft checkout. The first call builds graft and the
harness from source with sbt (perfbench/build.sbt) and makes the inputs
(fixture tables and the sf0.1 generated-data caches) under .perfbench/;
later calls reuse both. Each call then makes one measured run in a fresh JVM,
writes the run's full record under .perfbench/runs/, and prints one JSON
summary as the last stdout line. With --trace 0 the summary holds
the end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer ones.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# the benchmark JVM of one run must end within this many seconds
RUN_LIMIT_S = 170


T0 = time.time()


def log(msg):
    print(f"[perfbench +{time.time() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, cwd=ROOT, env=None):
    """Run a child in its own process group; kill the group on timeout.
    Returns (exit code, stdout). stderr passes through."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env or jvm_env(), stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"timed out after {timeout:.0f}s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def source_stamp():
    """Hash of every build input, so a changed source rebuilds."""
    entries = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                entries.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    h = hashlib.sha256("\n".join(sorted(entries)).encode())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(f, "rb").read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    """Compile graft and the harness. Returns the benchmark JVM's classpath
    and its JVM flags (graft's --add-opens list), as perfbench/build.sbt
    writes them."""
    launch = os.path.join(WORK, "launch.txt")
    stamp_file = os.path.join(WORK, "launch.stamp")
    stamp = source_stamp()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        log("building graft and the harness with sbt")
        code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"], 840,
                            cwd=HERE, env=sbt_env())
        built = os.path.join(HERE, "target", "launch.txt")
        if code != 0 or not os.path.exists(built):
            raise RuntimeError(f"sbt build failed (exit {code})")
        os.makedirs(WORK, exist_ok=True)
        with open(built) as src, open(launch, "w") as dst:
            dst.write(src.read())
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = [l.strip() for l in open(launch) if l.strip()]
    return lines[0], lines[1:]


def jvm_env():
    """Child JVM environment: Spark's scratch space stays in the checkout."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return env


def java_cmd(launch, *args):
    cp, flags = launch
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + flags + ["-cp", cp, "perfbench.Main"] + list(args) + ["--work", WORK])


def prepare(launch):
    """Make the inputs once per checkout (not part of any timed run)."""
    stamp = os.path.join(WORK, "prepared")
    if os.path.exists(stamp):
        return
    log("generating fixture tables and the sf0.1 generated-data caches")
    code, _ = run_child(java_cmd(launch, "prepare"), 600)
    if code != 0:
        raise RuntimeError(f"input preparation failed (exit {code})")
    open(stamp, "w").close()


def record_golden(launch, workloads):
    """Fingerprint every query of each workload's family in two fresh JVMs
    with different orders; a query whose hash differs between them is kept
    as count-only and listed."""
    gdir = os.path.join(HERE, "golden")
    os.makedirs(gdir, exist_ok=True)
    for w in workloads:
        got = []
        for seed in (1, 2):
            out = os.path.join(WORK, f"golden-{w}-{seed}.json")
            code, _ = run_child(java_cmd(launch, "golden", "--workload", w,
                                         "--seed", str(seed), "--out", out), 1800)
            if code != 0:
                raise RuntimeError(f"golden recording failed for {w} (exit {code})")
            got.append(json.load(open(out))["queries"])
        merged, unstable = {}, []
        for q in sorted(got[0]):
            a, b = got[0][q], got[1].get(q)
            if b is None or a["rows"] != b["rows"]:
                raise RuntimeError(f"{w}: {q} row count differs between two runs")
            if a["hash"] == b["hash"]:
                merged[q] = {"rows": a["rows"], "hash": a["hash"]}
            else:
                merged[q] = {"rows": a["rows"]}
                unstable.append(q)
        with open(os.path.join(gdir, f"{w}.json"), "w") as f:
            json.dump({"workload": w, "count_only": unstable, "queries": merged}, f,
                      indent=1, sort_keys=True)
            f.write("\n")
        log(f"{w}: {len(merged)} fingerprints, count-only: {unstable or 'none'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="re-record perfbench/golden/ for every workload (or --workload)")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    if a.workload is not None and a.workload not in names:
        ap.error(f"unknown workload {a.workload}")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise RuntimeError("no graft sources next to the benchmark (run from a graft checkout)")
    launch = build()
    prepare(launch)
    log("inputs ready")
    if a.record_golden:
        record_golden(launch, [a.workload] if a.workload else names)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    record = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                                f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}.json")
    code, out = run_child(java_cmd(launch, "run", "--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--record", record, "--golden", os.path.join(HERE, "golden")),
                          RUN_LIMIT_S)
    log("benchmark JVM exited")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        raise RuntimeError(f"benchmark run failed (exit {code})")
    full = json.loads(lines[-1])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = full["metrics"].get(m["name"])
        if got is None:
            raise RuntimeError(f"run produced no value for metric {m['name']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    log(f"full record: {record}")
    print(json.dumps({"correct": full["correct"], "attempted": full["attempted"],
                      "failed": full["failed"], "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        log(f"error: {e}")
        sys.exit(1)
