"""graft's benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. It builds graft and the harness from
source (perfbench/build.py), generates the workload's inputs from the seed,
runs the workload in its own JVM from one client thread, checks every
answer outside the timed spans, and prints one JSON line as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the spans are written to .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gendata  # noqa: E402

# Six of the adtech report queries (q01-q36): both maintained reports, the
# delta anti-join, a top-k, a range join and q17, which has no DuckDB twin;
# plus two corpus kernels from functions/ (n-gram Jaccard, MinHash).
QUERY_MIX = ["q04", "q05", "q07", "q17", "q25", "q35", "d02", "d03"]

# unit_s is the nominal cost of one unit op (a cycle or a pass) on the
# reference host; the number of unit ops in a run is --seconds / unit_s,
# fixed before the run starts, so both sides of a comparison do the same
# work. reps is how many times a run sets the workload up; warm is the
# number of untimed cycles after set-up.
WORKLOADS = {
    "etl_cycles": dict(kind="etl", unit_s=10.0, reps=2, warm=1),
    "query_mix": dict(kind="queries", queries=QUERY_MIX, sf=0.01, docs=500,
                      vecs=500, unit_s=7.0, reps=1),
}

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def driver_heap() -> str:
    """Half of MemTotal, clamped to 2-8 GiB (the Tier-1 test formula)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def units_for(spec: dict, seconds: int) -> int:
    return max(1, round(seconds / spec["unit_s"]))


def run_jvm(args: list, tmp: str, cds: str) -> None:
    """Runs the harness; `cds` is the class-data-sharing flag to use."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    jtmp = os.path.join(tmp, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = (["java", cds, "-XX:-UsePerfData", f"-Xmx{driver_heap()}", "-Xss8m",
            f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graft.perfbench.Harness"] + args)
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "a timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(log_path) as fh:
        log = fh.read()
    if rc != 0:
        sys.stderr.write(log[-6000:])
        raise SystemExit(f"harness JVM exited with {rc}")
    sys.stderr.writelines(l + "\n" for l in log.splitlines()
                          if l.startswith("[perfbench]"))


def dump_archive(path: str) -> None:
    """Records the classes one short etl_cycles run loads (the build's last
    step). A JVM whose archive is missing or stale just ignores it."""
    tmp = os.path.abspath(os.path.join(".bench_tmp", f"cds-{os.getpid()}"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        run_jvm(["--workload", "etl_cycles", "--seed", "0", "--units", "1",
                 "--reps", "1", "--warm", "0", "--cpus", str(cpus()), "--base", tmp,
                 "--out", os.path.join(tmp, "result.json")], tmp,
                f"-XX:ArchiveClassesAtExit={os.path.abspath(path)}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def metric(value, unit):
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    build.build(dump_archive)
    tmp = os.path.abspath(os.path.join(
        ".bench_tmp", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        out = os.path.join(tmp, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--units", str(units_for(spec, a.seconds)),
                "--reps", str(spec["reps"]), "--trace", str(a.trace),
                "--base", tmp, "--out", out, "--cpus", str(cpus())]
        if spec["kind"] == "etl":
            args += ["--warm", str(spec["warm"])]
        else:
            data = os.path.join(tmp, "input")
            gendata.write(data, a.seed, spec["sf"], spec["docs"], spec["vecs"])
            args += ["--data", data, "--queries", ",".join(spec["queries"])]
        if a.trace:
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--spans", os.path.abspath(os.path.join(
                traces, f"{a.workload}-seed{a.seed}.jsonl"))]
        t_jvm = time.time()
        run_jvm(args, tmp, f"-XX:SharedArchiveFile={build.ARCHIVE}")
        with open(out) as fh:
            res = json.load(fh)
        t_check = time.time()
        wrong = []
        if spec["kind"] == "queries":
            wrong = check.query_answers(res, data, cpus())
        attempted = res["attempted"]
        failed = min(attempted, res["failed"] + len(wrong))
        for e in res["errors"] + wrong:
            sys.stderr.write(f"[perfbench] {e}\n")
        if a.trace:
            metrics = {k: metric(v, unit_of(k)) for k, v in res["layers"].items()}
            metrics["peak_rss_mb"] = metric(res["peak_rss_mb"], "MB")
        else:
            ops = res["op_s"]
            metrics = {
                "setup_s": metric(res["session_s"]
                                  + statistics.median(res["setup_reps_s"])
                                  + res["warm_s"], "s"),
                "run_s": metric(res["run_s"], "s"),
                "op_p50_s": metric(statistics.median(ops) if ops else
                                   res["run_s"], "s"),
            }
        sys.stderr.write(f"[perfbench] {a.workload} seed={a.seed} "
                         f"units={res['units']} ops={len(res['op_s'])} "
                         f"op_sum={sum(res['op_s']):.2f} session={res['session_s']} "
                         f"jvm={t_check - t_jvm:.1f}s check={time.time() - t_check:.1f}s "
                         f"reps={res['setup_reps_s']} warm={res['warm_s']}\n")
        print(json.dumps({"correct": failed == 0 and not res["errors"] and not wrong,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
