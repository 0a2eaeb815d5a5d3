#!/usr/bin/env python3
"""graft benchmark: one run of one workload, as a closed loop with one client.

    python3 graftbench/run.py --workload lake_serve --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program (see
build.py). Each run generates its inputs from the seed, starts a fresh JVM
on a fresh state directory, and prints one JSON object as its last line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (which also writes the full trace, with spans, under
graftbench/target/traces). Lines before it describe the run: rounds, the
tail percentile and its sample count, the pass-time trend, and how much
CPU the host's other tenants took (steal) and other processes used.

    python3 graftbench/run.py --record --workload lake_serve --variant 0
        runs one pass, checks every output that has an oracle, and stores
        the digests as the expected values for that input variant.
    python3 graftbench/run.py --selftest
        tiny inputs: every metric is printed with its unit, every digest
        matches, injected failures are counted as failed, and a run with
        too few timed executions is refused.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# Input profiles: the table directory (the project's test tables, under
# graftbench/data), the rows of the generated rating drop, and the number
# of drop variants. The seed picks a variant (seed mod variants) and, in
# full, the op order of every round. `tiny` is the self-test's.
PROFILES = {
    "lake_serve": dict(tables="sf0.01", players=300, variants=1),
    "lake_write": dict(tables="sf0.001", players=3000, variants=4),
    "tiny": dict(tables="sf0.001", players=300, variants=1),
}
WORKLOADS = ("lake_serve", "lake_write")
EXPECTED = os.path.join(HERE, "expected.json")
RUN_TIMEOUT_S = 170
# When set, the time by which every JVM of this process must have ended
# (a benchmark run's JVMs share one limit); else each JVM gets RUN_TIMEOUT_S.
deadline = None
# Set-up is measured this many times per untraced run (the run's own and
# set-up-only JVMs after it); setup_s is their median.
SETUPS = 3

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
              "warm_tail_slowdown": "ratio", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_ms": "ms",
    "sources.bind_ms": "ms", "sources.schema_jobs": "count",
    "sources.xml_parse_ms": "ms", "sources.xml_records_per_s": "1/s",
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "exec.compiles": "count", "exec.compile_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.tasks": "count", "exec.run_ms": "ms",
    "exec.cpu_ms": "ms", "exec.cpu_share": "ratio", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_rows_per_result_row": "ratio",
    **{f"expressions.{k}_ns_per_row": "ns" for k in (
        "vec_dot", "vec_dot_i8", "simhash64", "shingle_hashes", "deflate_len",
        "lev_within", "cms_estimate_all", "bloom_might_contain")},
    "operators.conform_ms": "ms", "operators.validate_ms": "ms",
    "sinks.write_ms": "ms", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.lake_bytes_per_input_byte": "ratio",
    "pipeline.skip_ms": "ms", "pipeline.fingerprint_ms": "ms", "pipeline.ingest_rows_per_s": "1/s",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.log_commit_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.leaked_views": "count",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "jvm.heap_after_gc_mb": "MB",
    "host.steal_pct": "%", "host.competing_cores": "cores",
    "trace.warm_pass_s": "s", "trace.overhead_pct": "%",
}
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    """(steal ticks, all ticks) of the host, and user+system ticks of every
    user-space process by pid (kernel threads left out)."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[6]) & 0x00200000:  # PF_KTHREAD
            continue
        procs[int(pid)] = int(fields[11]) + int(fields[12])
    return cpu[7], sum(cpu[:8]), procs


def host_stamp(before, after, wall_s, exclude):
    steal = after[0] - before[0]
    total = after[1] - before[1]
    other = sum(t - before[2].get(pid, 0) for pid, t in after[2].items() if pid not in exclude)
    return {"host.steal_pct": 100.0 * steal / total if total else 0.0,
            "host.competing_cores": other / os.sysconf("SC_CLK_TCK") / wall_s}


def key(workload, profile):
    return workload if profile == workload else f"{workload}@{profile}"


def run(workload, seed, seconds, trace, profile=None, variant=None, record=None, faults=False,
        timed_rounds=None, setup_only=False):
    """One JVM run; returns its result.json as a dict, with host stamps.
    `record(result, run_dir)`, if given, runs a single pass that keeps
    every output under run_dir/out and is called before the run's state
    is removed. An untraced timed run also measures set-up SETUPS - 1
    more times, in set-up-only JVMs, and reports the median."""
    build.build()
    t0 = time.time()
    import gen
    profile = profile or workload
    p = PROFILES[profile]
    variant = seed % p["variants"] if variant is None else variant
    run_dir = os.path.join(build.TARGET, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    gen.generate(p["players"], variant, os.path.join(run_dir, "in"))
    exp_path = os.path.join(run_dir, "expected.json")
    with open(EXPECTED) as f:
        exp = json.load(f).get(key(workload, profile), {})
    with open(exp_path, "w") as f:
        json.dump(exp.get(str(variant), {}), f)
    args = [f"workload={workload}", f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
            f"tables={os.path.join(HERE, 'data', p['tables'])}",
            f"in_dir={run_dir}/in", f"run_dir={run_dir}", f"t0_us={int(t0 * 1e6)}",
            f"expected={exp_path}", f"record={int(record is not None)}", f"faults={int(faults)}",
            f"setup_only={int(setup_only)}"] + \
        ([f"timed_rounds={timed_rounds}"] if timed_rounds is not None else [])
    # A fixed, pre-touched heap: with a growing one, peak RSS followed G1's
    # resizing decisions from run to run rather than the program.
    cmd = (["java", "-XX:-UsePerfData", "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties"] + JAVA_OPENS +
           ["-cp", os.pathsep.join(build.classpath()), "graftbench.Main"] + args)
    log_path = os.path.join(build.TARGET, "last-run.log")
    try:
        before = cpu_times()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(1, (deadline or t0 + RUN_TIMEOUT_S) - time.time()))
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        after = cpu_times()
        if proc.returncode != 0:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise SystemExit(f"benchmark JVM exited with {proc.returncode}:\n{tail}")
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        if setup_only:
            return result
        result["variant"] = variant
        result["host"] = host_stamp(before, after, time.time() - t0, {os.getpid(), proc.pid})
        if record is not None:
            record(result, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not trace and record is None and timed_rounds is None:
        setups = [result["end_to_end"]["setup_s"]] + [
            run(workload, seed, seconds, 0, profile, variant, setup_only=True)["setup_s"]
            for _ in range(SETUPS - 1)]
        result["setups_s"] = setups
        result["end_to_end"]["setup_s"] = statistics.median(setups)
    return result


def metrics(result, trace):
    if trace:
        values = {**result["per_layer"], **result["host"]}
        return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    return {k: {"value": result["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}


def summary(result):
    rounds = result["rounds"]
    return {"workload": result["workload"], "seed": result["seed"], "variant": result["variant"],
            "tail": result["tail"], "trend_pct_per_round": round(result["trend_pct_per_round"], 3),
            "rounds": [f'{r["phase"]}:{r["pass_ms"]:.0f}ms/jit{r["jit_ms"]:.0f}/steal{r["steal_pct"]:.1f}' +
                       ("/traced" if r["traced"] else "") + ("/used" if r["used"] else "")
                       for r in rounds],
            "setups_s": [round(s, 3) for s in result.get("setups_s", [])],
            "suspect": result["suspect"],
            "host": {k: round(v, 3) for k, v in result["host"].items()},
            "failures": result["failures"][:5]}


def main():
    # On SIGTERM, unwind so that run() kills the JVM it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    p.add_argument("--variant", type=int)
    p.add_argument("--tiny", action="store_true", help="with --record: the self-test's inputs")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        import selftest
        return selftest.main()
    if a.record:
        import record
        return record.main(a.workload, a.variant, "tiny" if a.tiny else None)
    if not a.workload:
        p.error("--workload is required")
    global deadline
    build.build()  # the first run of a checkout builds; the limit starts after it
    deadline = time.time() + RUN_TIMEOUT_S
    result = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"run": summary(result)}))
    if a.trace:
        os.makedirs(os.path.join(build.TARGET, "traces"), exist_ok=True)
        path = os.path.join(build.TARGET, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump(result, f)
        print(json.dumps({"trace_file": os.path.relpath(path)}))
    else:
        print(json.dumps({"ops": result["ops"]}))
    print(json.dumps(final_line(result, a.trace)))


def final_line(result, trace):
    m = metrics(result, trace)
    bad = [k for k, v in m.items() if v["value"] is None or not math.isfinite(v["value"])]
    if bad:
        raise SystemExit(f"no value measured for {', '.join(bad)}")
    return {"correct": result["failed"] == 0 and result["attempted"] >= 1,
            "attempted": result["attempted"], "failed": result["failed"], "metrics": m}


if __name__ == "__main__":
    main()
