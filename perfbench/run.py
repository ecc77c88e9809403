#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from the checkout's sources together with the harness
in perfbench/src (first run only), generates the inputs from the seed,
and runs one JVM at local[<cores>] that calls the workload's queries as
a single closed-loop client: a cold pass, then warm passes for
--seconds. Every result is checked against perfbench/digests.json.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer metrics with --trace 1). The full record,
including the spans of a traced run, is written to perfbench/runs/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170
BUILD_DEADLINE_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# Warm passes keep getting faster for several passes (the JVM is still
# warming up), so warm_pass_s takes the median of the first WARM_PASSES
# of them: every run then reads the same stretch of that curve, and a
# faster host, which fits more passes in --seconds, does not also pull
# the median further down it.
WARM_PASSES = 5


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_stamp():
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "build.sbt"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; cache the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        die("engine sources not found next to perfbench/ (expected src/main/scala/graft)")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found")
    props = ["-Dsbt.offline=true", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        props = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + props
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run([sbt] + props + ["compile", "export Runtime/fullClasspath"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_DEADLINE_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(r.stdout[-4000:], file=sys.stderr)
        die("build failed")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def heap_size():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, kb // (4 * 1048576)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def run_jvm(cp, args, run_dir, budget_s):
    heap = heap_size()
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: a growing one drew out the warm passes' speed-up
        f"-Xmx{heap}", f"-Xms{heap}", f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def check(record, workload_cfg, digests, rowcount_only):
    """Compare every digested execution with the committed digest.
    Returns (attempted, failed, problems)."""
    expected = digests.get(workload_cfg["dataset"], {})
    attempted = failed = 0
    problems = []
    for p in record["passes"]:
        for e in p["execs"]:
            attempted += 1
            bad = None
            if e["error"]:
                bad = e["error"]
            else:
                want = expected.get(e["query"])
                if want is None:
                    bad = "no committed digest"
                elif e["query"] in rowcount_only:
                    if e["rows"] != want["rows"]:
                        bad = f"rows {e['rows']} != {want['rows']}"
                elif e["digest"] != want["digest"]:
                    bad = f"digest {e['digest']} != {want['digest']}"
            if bad:
                failed += 1
                problems.append(f"pass {p['pass']} {e['query']}: {bad}")
    return attempted, failed, problems


def end_to_end(record):
    passes = record["passes"]
    untraced = [p for p in passes if not p["traced"]] or passes
    warm = [p for p in untraced if p["pass"] > 0]
    pass_s = lambda p: sum(metrics.latency_s(e) for e in p["execs"])
    lat = [metrics.latency_s(e) for p in warm for e in p["execs"]]
    tail_p, tail_v = metrics.tail(lat)
    return {
        "setup_s": record["setup_s"],
        "cold_pass_s": pass_s(passes[0]),
        "warm_pass_s": statistics.median(pass_s(p) for p in warm[:WARM_PASSES]),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_v,
        "heap_live_mb": record["heap_live_mb"],
    }, {"query_tail_pct": tail_p, "warm_samples": len(lat), "warm_passes": len(warm)}


def per_layer(record, names):
    """Per-layer metrics of a traced run: the median per traced warm
    pass, `cold.*` from the cold pass, and for Staging the shared
    builds of all passes (set-up excluded) and the staging bytes."""
    events = record["trace_events"]
    traced = [p for p in record["passes"] if p["traced"]]
    layers = {p["pass"]: metrics.pass_layers(p, events) for p in traced}
    warm = [layers[p["pass"]] for p in traced if p["pass"] > 0]
    cold = layers[0][0]
    spans = [s for p in traced for s in layers[p["pass"]][1]]
    trig_ms = [x for p in traced if p["pass"] > 0 for x in layers[p["pass"]][2]]
    pass_s = lambda p: sum(metrics.latency_s(e) for e in p["execs"])
    out = {}
    for name in names:
        if name.startswith("cold."):
            out[name] = cold.get(name[5:], 0.0)
        elif warm and (name in warm[0][0] or name.startswith("self.")):
            out[name] = statistics.median(w[0].get(name, 0.0) for w in warm)
    out["trace.residual_frac"] = statistics.median(
        abs(w[0]["trace.residual_s"]) / w[0]["wall_s"] for w in warm)
    out["trace.overhead_s"] = metrics.tracing_overhead(
        [pass_s(p) for p in record["passes"]], [p["traced"] for p in record["passes"]])
    out["Staging.build_s"] = sum(p["build_s"] for p in record["passes"])
    out["Staging.builds"] = sum(p["builds"] for p in record["passes"])
    out["Staging.disk_mb"] = record["staging_disk_mb"]
    if trig_ms:
        out["streaming.trigger_p50_ms"] = statistics.median(trig_ms)
        out["streaming.trigger_tail_ms"] = metrics.tail(trig_ms)[1]
    for fn, k in record["kernels"].items():
        out[f"kernel.{fn}.ns_per_row"] = k["ns_per_row"]
        out[f"kernel.{fn}.bytes_per_row"] = k["bytes_per_row"]
    return {n: out.get(n, 0.0) for n in names}, spans


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true",
                    help="record this run's digests into digests.json instead of checking them")
    args = ap.parse_args()

    bench = load("../BENCHMARK.json")
    cfg = load("workloads.json")
    if args.workload not in cfg["workloads"]:
        die(f"unknown workload {args.workload}; have {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][args.workload]
    cp = build()
    t_start = time.time()

    runs = os.path.join(HERE, "runs")
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(runs, exist_ok=True)
    try:
        g0 = time.monotonic()
        data = os.path.join(run_dir, "data")
        scale = cfg["scale"]
        gen.generate(data, args.seed, scale["sf"], scale["docs"], scale["vecs"])
        gen_s = time.monotonic() - g0
        out = os.path.join(run_dir, "record.json")
        rc = run_jvm(cp, [
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--queries", ",".join(wl["queries"]),
            "--data", data, "--scale", str(wl.get("scale", 1)),
            "--run-dir", run_dir, "--cpus", str(len(os.sched_getaffinity(0))), "--out", out,
        ], run_dir, DEADLINE_S - (time.time() - t_start))
        if rc != 0 or not os.path.isfile(out):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                print("".join(f.readlines()[-40:]), file=sys.stderr)
            die("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))
        with open(out) as f:
            record = json.load(f)
    finally:
        log = os.path.join(run_dir, "jvm.log")
        if os.path.isfile(log):
            shutil.copy(log, os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    record["gen_s"] = gen_s
    record["run_wall_s"] = time.time() - t_start
    # process start (the build excluded) to the first timed query
    record["setup_s"] = record["first_query_ms"] / 1e3 - t_start

    digests = load("digests.json")
    if args.write_digests:
        ds = digests.setdefault(wl["dataset"], {})
        for p in record["passes"]:
            for e in p["execs"]:
                if not e["error"]:
                    ds[e["query"]] = {"rows": e["rows"], "digest": e["digest"]}
        with open(os.path.join(HERE, "digests.json"), "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
    attempted, failed, problems = check(record, wl, digests, set(cfg["rowcount_only"]))
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)

    e2e, info = end_to_end(record)
    info["failed_frac"] = failed / attempted
    record["attempted"], record["failed"] = attempted, failed
    if args.trace:
        layer, record["spans"] = per_layer(record, [m["name"] for m in bench["per_layer"]])
        shown = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        shown = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    record["metrics"] = shown
    record["info"] = info
    record_path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record_path, "w") as f:
        json.dump(record, f)
    for n, m in shown.items():
        print(f"{args.workload:12s} {n:34s} {m['value']:14.6f} {m['unit']}")
    print(f"{args.workload:12s} {'query_p50_s':34s} {e2e['query_p50_s']:14.6f} s")
    print(f"{args.workload:12s} {'query_tail_s':34s} {e2e['query_tail_s']:14.6f} s "
          f"(p{info['query_tail_pct']:g} of {info['warm_samples']} warm calls)")
    print(f"{args.workload:12s} {'failed_frac':34s} {info['failed_frac']:14.6f} ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
