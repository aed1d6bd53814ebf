#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark driver from source (perfbench/build.py),
generates the workload's tables from the seed, runs the workload's mix in
one local[nproc] Spark JVM (a cold pass, an untimed warm-up pass, then
timed warm passes for --seconds), checks every output against the DuckDB
oracle SQL, and prints each metric by name with its unit. The last line of
stdout is one JSON object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1.
Everything it writes goes under .bench_build/ in the current directory.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Tables each workload reads, and their row scale relative to the sf1
# shape: (scale of the fact tables, scale of documents and embeddings).
# The query mixes live in perfbench/scala/Workloads.scala.
WORKLOAD_DATA = {
    "iterative": (0.002, 0.01, ["lineitem", "embeddings"]),
    "ingest": (0.01, 0.01, ["documents"]),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "3g"
# timed warm passes a run makes at the least, whatever --seconds says, so
# one slow pass never sets a reported median
MIN_PASSES = 3
# the untraced twin of a traced run (see untraced_twin)
TWIN_PASSES = 2
# a run must end within 180 s; a traced run fits its untraced twin in too
RUN_LIMIT_S = 165
TRAIN_TIMEOUT_S = 400


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def child_env():
    """The engine's defaults: no SPARK_GRAFT_* override reaches the JVM."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS",)}


def jvm(cp, workload, seed, seconds, min_passes, trace, data, out, timeout, flags=()):
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: a run is too short for C2 to finish compiling, and with it
    # each warm pass was ~20% faster and used a third less CPU than the one
    # before, so a pass's time said more about the JIT's progress than about
    # the engine. With C1 alone the warm passes are flat, and start-up and
    # the cold pass are faster too. C1 alone also shrinks the code cache to
    # 48 MB, small enough that the sweeper flushed and recompiled code in
    # the middle of passes; 240 MB is what the default JIT reserves. The heap
    # is fixed in size so the GC after each pass does not shrink it and the
    # next pass does not spend itself regrowing it. With both, a pass of
    # `iterative` used about 15% less CPU on a 4-vCPU machine, and passes
    # that used half again the CPU of their neighbours stopped showing.
    cmd = ["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}", *flags]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.BenchMain",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--min-passes", str(min_passes),
            "--trace", str(trace), "--data", data, "--out", out,
            "--cores", str(cores()), "--launch-ms", str(int(time.time() * 1000))]
    logfile = os.path.join(out, "jvm.log")
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             env=child_env(), start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM timed out after {timeout} s")
        finally:
            # on every way out (timeout, SIGTERM, ^C) the JVM goes too
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(logfile) as lf:
            log(lf.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with code {code}")


def tables(base, workload, seed):
    """The workload's generated tables for `seed`, generated on first use."""
    scale, doc_scale, names = WORKLOAD_DATA[workload]
    data = os.path.join(base, "data", f"{workload}-s{seed}-x{scale}-d{doc_scale}")
    if not os.path.exists(os.path.join(data, "_properties.json")):
        os.makedirs(data, exist_ok=True)
        gen.generate(data, seed, scale, doc_scale, set(names))
    return data


def class_archive(cp, base):
    """A class-data-sharing archive of the classes a run loads, dumped once
    per build by a short training run (iterative, seed 0). It halves JVM
    start-up. None when this JVM cannot dump one; runs then go without."""
    jsa = os.path.join(os.path.dirname(cp[0]), "app.jsa")
    if os.path.exists(jsa):
        return jsa
    if os.path.exists(jsa + ".failed"):
        return None
    t0 = time.time()
    try:
        jvm(cp, "iterative", 0, 0, 0, 0, tables(base, "iterative", 0),
            os.path.join(os.path.dirname(jsa), "train"), TRAIN_TIMEOUT_S,
            [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        os.replace(jsa + ".tmp", jsa)
    except (SystemExit, OSError) as e:
        log(f"perfbench: no class-data-sharing archive ({e})")
        open(jsa + ".failed", "w").close()
        return None
    log(f"perfbench: class archive dumped in {time.time() - t0:.1f} s")
    return jsa


def measure(cp, flags, base, a, trace, seconds, min_passes, deadline):
    """One JVM run of the workload, measuring for `seconds` and at least
    `min_passes` timed passes, plus the oracle check of every output it
    wrote. Returns the run's summary, also saved as summary.json."""
    out = os.path.join(base, "runs", f"{a.workload}-s{a.seed}-t{trace}")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    data = tables(base, a.workload, a.seed)
    t1 = time.time()
    # earlier writes (the build, tables, outputs of the last run) are flushed
    # now, so their writeback does not slow the timed run
    os.sync()
    jvm(cp, a.workload, a.seed, seconds, min_passes, trace, data, out,
        max(10.0, deadline - time.time()), flags)
    t2 = time.time()
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    outputs = res["outputs"]
    answers = oracle.answers(data, [{"oracle": o["oracle"], "sql": o["sql"]}
                                    for o in outputs.values()])
    # every execution's output is checked, the cold pass's too
    mismatches = [(step, os.path.basename(d), c)
                  for step, o in outputs.items() for d in o["dirs"]
                  for c in [oracle.compare(d, answers[o["oracle"]])] if c != "OK"]
    log(f"perfbench: tables {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
        f"oracle and check {time.time() - t2:.1f} s")
    attempted = sum(res["executions"].values())
    failed = sum(res["errors"].values()) + len(mismatches)

    passes = res["passes"]
    warm_steps = res["warm_steps"]
    warm = [x for xs in warm_steps.values() for x in xs]
    # A run holds too few warm samples for a percentile with ten samples
    # beyond it, so the tail is the slowest step's median.
    step_p50 = {k: statistics.median(v) for k, v in warm_steps.items()}
    tail_step = max(step_p50, key=step_p50.get)
    e2e = {
        "setup_s": res["setup_s"],
        "cold_s": res["cold_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(warm),
        "query_tail_s": step_p50[tail_step],
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_heap_mb": max(p["heap_mb"] for p in passes),
        "ok_ratio": 1.0 - failed / attempted,
    }
    summary = {"build": cp[0], "seconds": seconds, "out": out, "e2e": e2e, "layers": res["layers"],
               "attempted": attempted, "failed": failed, "mismatches": mismatches,
               "error_msgs": res["error_msgs"], "passes": len(passes),
               "window_s": res["warm_window_s"], "cores": res["cores"],
               "tail_step": tail_step, "steps": len(step_p50), "samples": len(warm)}
    save(summary)
    return summary


def save(summary):
    with open(os.path.join(summary["out"], "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)


def untraced_twin(cp, flags, base, a, deadline):
    """The untraced run of the same build and seed: the one already on disk,
    else a fresh one with only TWIN_PASSES timed passes, so that a traced run
    still ends within its time limit on a slow machine. The tracing overhead
    is measured against it."""
    path = os.path.join(base, "runs", f"{a.workload}-s{a.seed}-t0", "summary.json")
    try:
        with open(path) as f:
            s = json.load(f)
        if s["build"] == cp[0]:
            return s
    except (OSError, ValueError, KeyError):
        pass
    return measure(cp, flags, base, a, 0, 0, TWIN_PASSES, deadline)


def stop(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"perfbench: unknown workload {a.workload} (known: {names})")

    cp = build.build(".")
    base = os.path.abspath(build.BUILD_DIR)
    jsa = class_archive(cp, base)
    flags = [f"-XX:SharedArchiveFile={jsa}"] if jsa else []
    # building and the class archive, done once per checkout, do not count
    deadline = time.time() + RUN_LIMIT_S
    twin = untraced_twin(cp, flags, base, a, deadline) if a.trace else None
    s = measure(cp, flags, base, a, a.trace, a.seconds, MIN_PASSES, deadline)
    e2e, layers = s["e2e"], s["layers"]
    if twin:
        layers["trace.overhead_s"] = e2e["pass_s"] - twin["e2e"]["pass_s"]
        save(s)
    failed, attempted = s["failed"], s["attempted"]

    print(f"perfbench workload={a.workload} seed={a.seed} cores={s['cores']} "
          f"trace={a.trace} warm_passes={s['passes']} window_s={s['window_s']:.2f}")
    for m in bench["end_to_end"]:
        print(f"  {m['name']:<16} {e2e[m['name']]:>14.6g} {m['unit']}")
    print(f"  {'fail_ratio':<16} {failed / attempted:>14.6g} ratio "
          f"({failed} of {attempted} query executions)")
    print(f"  query_tail_s is the median of {s['tail_step']}, the slowest of "
          f"{s['steps']} steps; {s['samples']} warm query samples in all")
    for step, pass_dir, c in s["mismatches"]:
        print(f"  MISMATCH {step} ({pass_dir}): {c}")
    for msg in s["error_msgs"]:
        print(f"  ERROR {msg}")
    if a.trace:
        print(f"  untraced pass_s of this seed: {twin['e2e']['pass_s']:.6g} s "
              f"({twin['out']})")
        for m in bench["per_layer"]:
            print(f"  {m['name']:<34} {layers.get(m['name'], 0.0):>16.6g} {m['unit']}")
        print(f"  trace: {os.path.join(s['out'], 'trace.json')}")

    metrics = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = layers if a.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in metrics},
    }))


if __name__ == "__main__":
    main()
