#!/usr/bin/env python3
"""Ingest benchmark of the graft engine: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <drain|live|registry|all>
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/build.py), runs the
workload in a fresh JVM at local[<cores>], checks its outputs, and prints
a summary followed, as the last line, by one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Exits 1 when an output is wrong,
2 when the benchmark could not run. See perfbench/README.md.
"""
import argparse
import fnmatch
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["drain", "live", "registry"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(workload, seed, seconds, trace, deadline):
    """Run perfbench.Main; return the raw record it wrote."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", tag)
    outdir = os.path.join(build.BUILD, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    out = os.path.join(outdir, tag + ".json")
    log = os.path.join(outdir, tag + ".log")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -Xmx3g, where Bench runs with -Xmx${SPARK_DRIVER_MEM:-8g}: the
    # inputs are small and no phase spills at 3g (see README.md)
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()), "--work", work, "--out", out,
            "--launched-ms", str(int(time.time() * 1000))]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"{workload} run exceeded its time; log: {log}")
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"{workload} JVM exited {code}; log tail:\n{tail}")
    with open(out) as fh:
        raw = json.load(fh)
    raw["work"] = work
    return raw


def check_outputs(raw):
    """Oracle-check every written query result (registry workloads).
    A mismatched query fails its rep; the rep's time is not used."""
    if not raw.get("oracles"):
        return
    import oracle
    o = oracle.Oracle(raw["tables_dir"], raw["oracles"])
    for r in raw["reps"]:
        for q, path in r.get("outputs", {}).items():
            why = o.check(q, path)
            if why:
                r["ok"] = False
                r["mismatch"] = True
                r["failed_ops"] = int(r.get("failed_ops", 0)) + 1
                r["error"] = why


def end_to_end(raw):
    reps = stats.usable(raw["reps"])
    setup = raw["setup"]
    m = {
        "setup_s": setup["session_s"] + statistics.median(setup["generate_s"])
        + setup["warmup_s"],
        "heap_mb": raw["resources"]["heap_after_gc_mb"],
    }
    if reps:
        m["latency_ms"] = 1000 * statistics.median(r["unit_s"] for r in reps)
        m["rows_per_s"] = statistics.median(r["rows"] / r["rows_s"] for r in reps)
    return m


# Per-layer metrics of the layers a workload does not run (fnmatch
# patterns); they read 0 there. Any other name the raw record cannot
# resolve is left out, which makes the run incorrect (see report()).
DRAIN_ONLY = ["TopicStore.readEntries_msgs_per_s",
              "PulsarLikeSource.scan_msgs_per_s",
              "MessageOps.dispatch_msgs_per_s", "drain_1core_msgs_per_s"]
LIVE_ONLY = ["TopicStore.append_*", "PulsarLikeSource.backlog_msgs_end",
             "epoch.restarts", "live.*"]
REGISTRY_ONLY = ["gate.*", "operators.*", "plan.*"]
NOT_RUN = {
    "drain": LIVE_ONLY + REGISTRY_ONLY,
    "live": DRAIN_ONLY + REGISTRY_ONLY,
    # the gates publish and land inside the queries, out of the harness's
    # reach
    "registry": DRAIN_ONLY + LIVE_ONLY + ["TopicStore.publish_msgs_per_s",
                                          "TopicStore.bytes_per_msg",
                                          "BatchLanding.*"],
}


def not_run(workload, name):
    return any(fnmatch.fnmatchcase(name, p) for p in NOT_RUN[workload])


def resolve(raw, name):
    """The value of per-layer metric `name` in the raw record, or None.
    A name is a scalar the JVM recorded, or <dist>_p50/_tail/_tail_pct/_n
    of a distribution's samples, or a distribution's median, or
    jvm.<counter>_per_rep, the median of a JVM counter over the untraced
    reps; an empty distribution resolves to nothing."""
    layers, dists = raw.get("layers", {}), raw.get("dists", {})
    res = raw["resources"]
    base, _, part = name.rpartition("_")
    if name in layers:
        return layers[name]
    if dists.get(name):
        return statistics.median(dists[name])
    if name.endswith("_tail_pct") and dists.get(name[:-9]):
        return stats.summary(dists[name[:-9]])["tail_pct"]
    if part in ("p50", "tail", "n") and dists.get(base):
        return stats.summary(dists[base])[part]
    if name.startswith("res.") and name[4:] in res:
        return res[name[4:]]
    if name.startswith("jvm.") and name.endswith("_per_rep"):
        key = name[4:-len("_per_rep")]
        reps = [r for r in stats.usable(raw["reps"]) if key in r]
        if reps:
            return statistics.median(r[key] for r in reps)
    if name == "trace.overhead_pct":
        traced = stats.usable(raw["reps"], traced=True)
        untraced = stats.usable(raw["reps"])
        if traced and untraced:
            t = statistics.median(r["unit_s"] for r in traced)
            u = statistics.median(r["unit_s"] for r in untraced)
            return 100.0 * (t / u - 1.0)
    return None


def per_layer(raw, names):
    """The per-layer metrics by name: each resolved from the raw record,
    0 for a layer the workload does not run, left out otherwise."""
    out = {}
    for name in names:
        v = resolve(raw, name)
        if v is None and not_run(raw["workload"], name):
            v = 0.0
        if v is not None:
            out[name] = float(v)
    return out


def own_figures(raw):
    """The workload's own figures under their descriptive names, printed
    before the result line."""
    reps = stats.usable(raw["reps"])
    w = raw["workload"]
    lines = []
    if not reps:
        return lines

    def med(f):
        return statistics.median(f(r) for r in reps)
    if w == "drain":
        lines.append(("publish_msgs_per_s", med(lambda r: r["rows"] / r["publish_s"]), "msg/s"))
        lines.append(("drain_msgs_per_s", med(lambda r: r["rows"] / r["rows_s"]), "msg/s"))
    elif w == "live":
        lat = [x for r in reps for x in r["latency_ms"]]
        late = [x for r in reps for x in r["producer_late_ms"]]
        s = stats.summary(lat)
        lines.append(("live_latency_p50_ms", s["p50"], "ms"))
        if len(lat) >= 1000:
            lines.append(("live_latency_p99_ms", stats.pct(lat, 99), "ms"))
        lines.append((f"live_latency_p{s['tail_pct']:g}_ms (tail, n={s['n']})",
                      s["tail"], "ms"))
        p, v = stats.tail(late)
        lines.append((f"producer_late_p{p:g}_ms (n={len(late)})", v, "ms"))
        lines.append(("stream_restarts", sum(r["restarts"] for r in raw["reps"]
                                             if "restarts" in r), "count"))
        crashes = [c for r in raw["reps"] for c in r.get("crashes", [])]
        for c in sorted(set(crashes)):
            lines.append((f"crash: {c}", crashes.count(c), "count"))
    else:
        lines.append(("stateful_s", med(lambda r: r["gates_s"]), "s"))
        lines.append(("batch_ops_s", med(lambda r: r["batch_ops_s"]), "s"))
        for q in reps[0].get("query_s", {}):
            lines.append((f"{q}_s", med(lambda r: r["query_s"].get(q, 0.0)), "s"))
    return lines


def report(raw, trace, sp, out=sys.stdout, err=sys.stderr):
    """Metrics, accounting and verdict of a checked raw record. Prints
    the declared metrics by name with their units to `out`, and the
    workload's own figures and any rep errors to `err`."""
    reps = raw["reps"]
    attempted, failed = stats.accounting(reps)
    verified = [r for r in reps if r.get("ok")]
    correct = bool(verified) and not any(r.get("mismatch") for r in reps)
    if trace:
        declared = sp["per_layer"]
        metrics = per_layer(raw, [d["name"] for d in declared])
    else:
        declared = sp["end_to_end"]
        metrics = end_to_end(raw)
    if any(d["name"] not in metrics for d in declared):
        correct = False
    print(f"== {raw['workload']} seed={raw['seed']} trace={trace} "
          f"cores={raw['cores']} reps={len(reps)} ok={len(verified)} "
          f"failed={failed}/{attempted} ops", file=out)
    for r in reps:
        if r.get("error"):
            print(f"   rep {r['rep']}: {r['error']}", file=err)
    for name, v, unit in own_figures(raw):
        print(f"   {name:<44} {v:>14.4f} {unit}", file=err)
    for d in declared:
        v = metrics.get(d["name"])
        shown = "missing" if v is None else f"{v:.6g}"
        print(f"   {d['name']:<44} {shown:>14} {d['unit']}", file=out)
    return {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {d["name"]: {"value": metrics.get(d["name"], 0.0),
                                "unit": d["unit"]} for d in declared},
    }


def run_one(workload, seed, seconds, trace, deadline):
    raw = run_jvm(workload, seed, seconds, trace, deadline)
    try:
        check_outputs(raw)
    finally:
        shutil.rmtree(raw["work"], ignore_errors=True)
    return report(raw, trace, spec())


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        build.build()
        start = time.time()
        if a.workload == "all":
            results = {}
            for w in WORKLOADS:
                results[w] = run_one(w, a.seed, a.seconds, a.trace,
                                     time.time() + RUN_TIMEOUT_S)
            print(json.dumps(results))
            return 0 if all(r["correct"] for r in results.values()) else 1
        result = run_one(a.workload, a.seed, a.seconds, a.trace,
                         start + RUN_TIMEOUT_S)
    except (build.BuildError, RuntimeError, OSError, KeyError) as e:
        print(f"[perfbench] {type(e).__name__}: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
