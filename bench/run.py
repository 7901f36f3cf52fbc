"""The venus benchmark: one run of one workload.

    python3 bench/run.py --workload log_queries --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark's JVM side if needed (bench/build.py),
has the generator plan the seeded inputs (bench/gen.py), runs the workload
in one JVM (bench/scala), checks every answer against the generator's
expected answers and prints, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer ones, and the run also writes its spans and a self-time report.
Exits 1 when an answer is wrong, 2 when the run itself fails or the host
took more than MAX_STEAL of the machine's CPU time.
"""

import argparse
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

import analyze  # noqa: E402
import build  # noqa: E402

# a run, set-up and checks included (the build excluded), must end well
# inside three minutes
RUN_LIMIT_S = 170

# The most of the machine's CPU time its host may take during a run. The
# baseline's runs saw 0-5 %; runs that saw 7-12 % came out 15-60 % slower,
# beyond the bounds, so such an untraced run is refused rather than
# reported. Traced runs report the share as host.steal_frac.
MAX_STEAL = 0.06

# Spark 4 on JDK 17 outside spark-submit (the root build's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def fail(msg, code=2):
    print("venusbench: " + msg, file=sys.stderr)
    sys.exit(code)


def cpu_ticks():
    """(steal, total) CPU ticks of the machine: a shared host that takes
    cycles from this one shows as steal, and slows every timing."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(cmd, cwd, log_path, timeout):
    """Run the JVM in its own process group; the group (the JVM and any
    generator it started) is killed when the run ends or times out."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def main(argv=None):
    ap = argparse.ArgumentParser(description="venus benchmark: one workload run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail("unknown workload %s" % a.workload)
    wspec = spec["workloads"][a.workload]
    classpath = build.build()
    # the run's time limit starts after the build, which only a first run pays
    started = time.time()

    out_root = os.path.join(ROOT, ".bench_out")
    work = os.path.join(out_root, "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen_py = os.path.join(HERE, "gen.py")
    subprocess.run([sys.executable, gen_py, "plan", "--workload", a.workload,
                    "--seed", str(a.seed), "--seconds", str(a.seconds), "--out", work],
                   check=True)
    n = cpus()
    config = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": bool(a.trace), "workdir": work, "cpus": n,
        "python": sys.executable, "gen": gen_py, "spec": wspec,
        "deadline_s": RUN_LIMIT_S - 15 - (time.time() - started),
        "spark": {k: v.format(cpus=n, workdir=work) for k, v in spec["spark"].items()},
    }
    config_path = os.path.join(work, "config.json")
    with open(config_path, "w") as f:
        json.dump(config, f)
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout
    cmd = (["java", "-Xmx" + spec["jvm_heap"], "-Xss8m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", classpath, "venusbench.Main", config_path])
    log_path = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_ticks()
    code = run_jvm(cmd, work, log_path, RUN_LIMIT_S - (time.time() - started))
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail("workload run %s\n%s" % ("timed out" if code is None else "exited %d" % code, tail))
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(work, "plan.json")) as f:
        plan = json.load(f)

    e2e, info = analyze.end_to_end(a.workload, result, wspec)
    problems, attempted, failed = analyze.check(a.workload, result, plan, wspec, a.seed, work)
    for p in problems[:20]:
        print("CHECK FAILED: " + p, file=sys.stderr)
    correct = not problems

    print("%s seed %d: %d queries (tail p%s), %d visibility samples (p%s), %d set-ups, "
          "%.1f%% of CPU time stolen by the host"
          % (a.workload, a.seed, info["query_samples"], info["query_tail_pct"],
             info["visible_samples"], info["visible_tail_pct"], info["setup_runs"],
             100.0 * steal),
          file=sys.stderr)
    if steal > MAX_STEAL and not a.trace:
        fail("the host took %.1f%% of the CPU time (at most %.0f%% allowed): the timings "
             "are not comparable" % (100.0 * steal, 100.0 * MAX_STEAL))
    if a.trace:
        values, spans = analyze.per_layer(a.workload, result, wspec, e2e, info,
                                          attempted, failed, steal)
        wanted = bench["per_layer"]
        report = {"self_s": {layer: values["self.%s_s" % layer] for layer in analyze.LAYERS}}
        last = os.path.join(out_root, "last-%s.json" % a.workload)
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
            report["overhead"] = {k: e2e[k] - untraced[k] for k in analyze.END_TO_END}
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump(spans, f)
        with open(os.path.join(work, "trace_report.json"), "w") as f:
            json.dump(report, f, indent=1)
        print("self time (s): " + ", ".join("%s %.3f" % kv for kv in report["self_s"].items()),
              file=sys.stderr)
    else:
        values = e2e
        wanted = bench["end_to_end"]
        with open(os.path.join(out_root, "last-%s.json" % a.workload), "w") as f:
            json.dump(e2e, f)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
