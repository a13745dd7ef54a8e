#!/usr/bin/env python3
"""The repository benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload <suite_sf001|etl_cycle> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source when they changed (sbt, offline), runs the workload in one driver
JVM at local[nproc], checks the outputs, and prints one JSON object as the
last line of stdout: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. The line before it is a report with the run's conditions
(seed, nproc, load, JVM flags, code digest), every timed sample and any
failed operations. Everything the run writes stays in the checkout, under
.bench_build/ and perfbench/target/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "sf0.01.json")

# suite_sf001 runs the SUITE_SIZE registry queries with the lowest SHA-256
# of their names: a fixed, seed-independent sample of the registry that
# fits the per-run budget (one pass over all 284 takes minutes).
SUITE_SIZE = 10
# Whole-run budget, under the 180 s a run may take.
DEADLINE_S = 170
JVM_HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("no Spark: set SPARK_HOME or put spark-submit on PATH")
    return home


def sources():
    """Every file the build reads, in a stable order."""
    found = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files]
    found += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    return sorted(found)


def code_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compiles program + harness with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no program sources under src/main/scala")
    digest = code_digest()
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return digest
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building program and harness (sbt compile)")
    with open(os.path.join(OUT, "build.log"), "w") as out:
        code = run_process(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "clean", "compile"], out, deadline, cwd=BENCH,
                           env=env)
    if code != 0:
        raise RuntimeError(f"build failed ({code}); see .bench_build/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def run_process(cmd, out, deadline, **kw):
    """Runs cmd in its own process group; kills the group at the deadline
    and always waits for it."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"timed out: {' '.join(cmd[:3])} ...")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm(args, work, deadline):
    """Runs perfbench.Main in a fresh JVM working in `work`; returns its
    result object."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = os.path.join(spark_home(), "jars", "*")
    cmd += ["-cp", f"{CLASSES}:{jars}", "perfbench.Main",
            "--result", result, "--work", work,
            "--t0", str(int(time.time() * 1000))] + args
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        code = run_process(cmd, out, deadline, cwd=ROOT)
    if code != 0 or not os.path.exists(result):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise RuntimeError(f"the benchmark JVM exited with {code}")
    with open(result) as f:
        return json.load(f)


def suite_queries():
    with open(EXPECTED) as f:
        expected = json.load(f)
    names = sorted(expected, key=lambda n: hashlib.sha256(n.encode()).digest())
    return sorted(names[:SUITE_SIZE]), expected


def check_digests(names, expected, work, failed):
    import digest
    for n in names:
        if n in failed:
            continue
        try:
            got = digest.of_parquet_dir(os.path.join(work, "check", n))
        except Exception as e:  # unreadable or missing output
            failed[n] = f"output unreadable: {e}"
            continue
        if got != expected[n]:
            failed[n] = f"digest {got} != oracle {expected[n]}"


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Linear-interpolated quantile of xs (0 < q < 1)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def timed_ops(res, traced, ok_names):
    return [o for o in res["ops"] if o["name"] in ok_names and
            o["round"] in {r["round"] for r in res["rounds"]
                           if r["traced"] == traced}]


def wall(ops):
    """The fastest round's summed operation time."""
    rounds = {}
    for o in ops:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["seconds"]
    return min(rounds.values())


def end_to_end(res, ok_names):
    # Each operation's time is its fastest round: the rounds run the same
    # work, so the minimum is the estimate least disturbed by the JIT
    # still compiling and by other load on the machine.
    ops = timed_ops(res, False, ok_names)
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["seconds"])
    op_times = [min(v) for v in per_op.values()]
    return {
        "setup_s": res["setup_s"],
        "wall_s": wall(ops),
        "op_p50_s": median(op_times),
        "op_p90_s": quantile(op_times, 0.9),
        "peak_live_mb": res["peak_live_mb"],
    }


def per_layer(res, ok_names):
    m = dict(res["trace"])
    m["trace.overhead_s"] = (wall(timed_ops(res, True, ok_names)) -
                             wall(timed_ops(res, False, ok_names)))
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    facts = res["facts"]
    m["receiving.feed_bytes"] = (facts.get("feed_bytes_by_cycle") or [0])[-1]
    pending = facts.get("docs_pending", 0)
    processed = facts.get("docs_processed", 0)
    m["etl.docs_pending"] = pending
    m["etl.docs_processed"] = processed
    m["etl.docs_skipped"] = facts.get("docs_skipped", 0)
    m["etl.useful_ratio"] = processed / pending if pending else 0.0
    m["etl.stored_bytes_per_input_byte"] = (
        facts["stored_bytes"] / facts["input_bytes"]
        if facts.get("input_bytes") else 0.0)
    return m


def op_seconds(res):
    """Each operation's timed samples, in the order of the first round."""
    out = {}
    for o in res["ops"]:
        out.setdefault(o["name"], []).append(round(o["seconds"], 4))
    return out


def declared(trace):
    """The metrics BENCHMARK.json names for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["suite_sf001", "etl_cycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    load_start = os.getloadavg()
    metric_spec = declared(a.trace)

    # The first run in a checkout builds; its deadline is the build's.
    digest = build(time.time() + 850)
    deadline = max(deadline, time.time() + DEADLINE_S - 10)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--cpus", str(cpus),
                "--data", DATA]
        names, expected = [], {}
        if a.workload == "suite_sf001":
            names, expected = suite_queries()
            args += ["--ops", ",".join(names)]
        res = jvm(args + ["--trace", str(a.trace)], work, deadline)

        failed = dict(res["failed"])
        for o in res["ops"]:
            if o["error"]:
                failed.setdefault(o["name"], o["error"])
        if names:
            check_digests(names, expected, work, failed)
        # a failed output check of the ETL round fails every cycle
        all_bad = "etl_check" in failed
        all_ops = res["ops"]
        ok_names = {o["name"] for o in all_ops
                    if o["name"] not in failed and not all_bad}
        attempted = len(all_ops)
        n_failed = sum(1 for o in all_ops if o["name"] not in ok_names)

        if not ok_names:
            raise RuntimeError(f"every operation failed: {failed}")
        e2e = end_to_end(res, ok_names)
        metrics = per_layer(res, ok_names) if a.trace else e2e
        if a.trace:
            keep = os.path.join(OUT, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(
                keep, f"{a.workload}-seed{a.seed}.json"))
        report = {
            "report": "perfbench", "workload": a.workload, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace, "nproc": cpus,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "jvm_flags": res["jvm_flags"], "code_sha256": digest,
            "commit": git_head(),
            "rounds": res["rounds"], "warm_up_s": res["warm_up_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "op_seconds": op_seconds(res),
            "failed_ratio": n_failed / attempted if attempted else 1.0,
            "failed_operations": failed, "end_to_end": e2e,
        }
        print(json.dumps(report), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in metric_spec}
    missing = [k for k in units if k not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    line = json.dumps({
        "correct": not failed, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}})
    parsed = json.loads(line)  # the last line must parse and name every metric
    assert set(parsed["metrics"]) == set(units), parsed
    print(line, flush=True)


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except Exception:
        return None


if __name__ == "__main__":
    try:
        main()
    except Exception as e:
        log(f"error: {e}")
        sys.exit(1)
