#!/usr/bin/env python3
"""graft benchmark: point-in-time backfill and streaming examples, measured
end to end (untraced) or per layer (traced; the traced backfill run also
measures corpus dedup).

    python3 perfbench/run.py --workload backfill_large --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Inputs are generated from --seed,
the JVM harness runs the workload on local[4], the outputs are checked
against DuckDB / numpy references, and the last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["backfill_large", "stream_examples"]
# the metric lists are the ones BENCHMARK.json declares
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = _BENCH["end_to_end"]
PER_LAYER = _BENCH["per_layer"]
# per workload: (throughput name and unit, latency name, tail percentile)
NAMES = {
    "backfill_large": ("backfill_events_per_s", "events/s", "pass", 100),
    "stream_examples": ("stream_max_eps", "events/s", "stream_latency", 90),
}
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP, YOUNG = "3g", "768m"
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness once per source state; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "api", "Graft.scala")):
        fail("no graft sources under src/main/scala; run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    os.makedirs(WORK, exist_ok=True)
    stamp_path, cp_path = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == digest:
        return open(cp_path).read().strip()
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=f, text=True, timeout=700)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (sbt exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(digest)
    return cp


def java_cmd(cp, out_dir):
    """The harness JVM. Fixed heap and generation sizes with no adaptive
    sizing, so peak RSS follows the workload's live set rather than the
    collector's choices."""
    os.makedirs(f"{out_dir}/tmp", exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={out_dir}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + JVM_FLAGS + ["-cp", cp, "graft.perfbench.Main"])


def cpu_times():
    with open("/proc/stat") as f:
        cols = [int(x) for x in f.readline().split()[1:9]]
    return cols[7], sum(cols)


def host_stamp(before, after):
    steal = after[0] - before[0]
    total = after[1] - before[1]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return dict(nproc=len(os.sched_getaffinity(0)), steal_pct=100.0 * steal / max(1, total),
                loadavg=load)


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))]


def tail(xs, q):
    """Percentile q if at least 10 samples lie beyond it, else the highest
    percentile that has; with fewer than 11 samples, the maximum."""
    n = len(xs)
    for p in (q, 99, 95, 90, 75, 50):
        if p <= q and n * (100 - p) / 100 >= 10:
            return percentile(xs, p), p
    return max(xs), 100


def run_jvm(cp, workload, in_dir, out_dir, seconds, trace, desc, deadline):
    cmd = java_cmd(cp, out_dir) + [
        "--workload", workload, "--input", in_dir, "--out", out_dir,
        "--seconds", str(seconds), "--trace", str(trace)]
    for k in ("fixed_s", "sat_blocks"):
        if k in desc:
            cmd += [f"--{k}", str(desc[k])]
    cmd += ["--event_types", ",".join(gen.EVENT_TYPES)]
    with open(f"{out_dir}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(f"{out_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {code}")
    with open(f"{out_dir}/report.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    cp = build()
    deadline = max(deadline, time.time() + 150)  # a fresh build gets its own budget
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    try:
        t_gen = time.time()
        desc = gen.generate(args.workload, args.seed, in_dir, args.seconds, args.trace == 1)
        t_jvm = time.time()
        before = cpu_times()
        rep = run_jvm(cp, args.workload, in_dir, out_dir, args.seconds, args.trace, desc, deadline)
        host = dict(rep["host"], **host_stamp(before, cpu_times()), heap=HEAP,
                    session_s=rep["session_s"])
        t_check = time.time()

        w = args.workload
        if w == "backfill_large":
            attempted, failed, info = checks.check_backfill(in_dir, out_dir, rep)
            if "planted" in desc:
                a, f, dedup_info = checks.check_dedup(in_dir, out_dir, rep, desc["planted"])
                attempted, failed, info = attempted + a, failed + f, dict(info, **dedup_info)
        else:
            attempted, failed, info = checks.check_stream(in_dir, out_dir, rep)

        phases = dict(generate_s=t_jvm - t_gen, harness_s=t_check - t_jvm,
                      check_s=time.time() - t_check)
        thr_name, thr_unit, lat_name, tail_q = NAMES[w]
        if w == "stream_examples":
            lat = rep["latency_ms"]
            if len(rep["sat_rows"]) != desc["sat_blocks"]:
                fail(f"saturation ran {len(rep['sat_rows'])} batches, not {desc['sat_blocks']}")
            thr = statistics.median(n / (t / 1e3) for n, t in zip(rep["sat_rows"], rep["sat_ms"]))
        else:
            lat = rep["op_ms"]
            thr = rep["events"] / (statistics.median(lat) / 1e3)
        if not lat:
            fail("no latency samples")
        p50 = statistics.median(lat)
        tail_v, tail_p = tail(lat, tail_q)
        values = dict(throughput_per_s=thr, p50_ms=p50, tail_ms=tail_v,
                      setup_s=rep["session_s"] + statistics.median(rep["setup_reps_s"]),
                      peak_rss_mb=rep["peak_rss_mb"])

        print(f"workload {w} seed {args.seed} trace {args.trace} size "
              + json.dumps({k: v for k, v in desc.items() if k not in ("planted",)}))
        print("host " + json.dumps(host))
        print("phases " + json.dumps(phases) + " jvm marks " + json.dumps(
            dict(sorted(rep.get("marks", {}).items(), key=lambda kv: kv[1]))))
        print(f"{thr_name} = {thr:.1f} {thr_unit}   [throughput_per_s]")
        print(f"{lat_name}_p50_ms = {p50:.3f} ms   [p50_ms, {len(lat)} samples]")
        print(f"{lat_name}_p{tail_p}_ms = {tail_v:.3f} ms   [tail_ms, {len(lat)} samples, "
              f"{sum(1 for x in lat if x > tail_v)} beyond]")
        print(f"setup_s = {values['setup_s']:.3f} s   (session {rep['session_s']:.3f} s + median of "
              f"{rep['setup_reps_s']})")
        print(f"peak_rss_mb = {values['peak_rss_mb']:.1f} MB")
        print(f"failed_frac = {failed / attempted:.6f}   ({failed} of {attempted}) {json.dumps(info)}")
        if w == "backfill_large":
            print(f"pass ms, in order: {[round(x) for x in lat]}")
        else:
            lag = rep["generator_lag_ms"]
            print(f"generator lag p50 {statistics.median(lag):.2f} ms, max {max(lag):.2f} ms; "
                  f"saturation batches: rows {rep['sat_rows']}, ms {rep['sat_ms']}")

        if args.trace:
            layers = rep.get("layers", {})
            if "min_recall" in info:
                layers["ext.recall"] = info["min_recall"]
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in PER_LAYER}
            for k, v in metrics.items():
                print(f"  {k} = {v['value']:.6g} {v['unit']}")
        else:
            metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                       for m in END_TO_END}
        print(json.dumps(dict(correct=failed == 0, attempted=int(attempted), failed=int(failed),
                              metrics=metrics)))
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
