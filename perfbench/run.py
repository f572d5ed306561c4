"""The repo benchmark: one workload, one seed, every metric by name and unit.

    python3 perfbench/run.py --workload <daemon|corpus_curate>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), writes the workload's inputs from the seed
(perfbench/gen.py), drives one JVM with local[nproc] through the program's
public functions (perfbench/src), checks the outputs, and prints the
metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md for what each metric measures.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("process_cpu_s", "s", "lower", 0.25),
    ("retained_heap_mb", "MB", "lower", 0.2),
    ("ok_frac", "ratio", "higher", 0.001),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("work_per_s", "1/s", "higher", 0.25),
    ("heavy_op_ms", "ms", "lower", 0.25),
)

# (name, unit, better, the metric it should move, workload). The streaming
# probe's own figures have no metric above them, and neither has redaction:
# no kept workload's ticks redact (README).
PER_LAYER = (
    ("spark.plan.analysis_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("spark.plan.optimization_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("spark.plan.planning_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("spark.jobs", "count", "lower", "op_p50_ms", "daemon"),
    ("spark.tasks", "count", "lower", "op_p50_ms", "daemon"),
    ("spark.sched_delay_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("spark.driver_only_s", "s", "lower", "op_p50_ms", "daemon"),
    ("spark.exec.cpu_s", "s", "lower", "process_cpu_s", "all"),
    ("spark.exec.gc_s", "s", "lower", "process_cpu_s", "all"),
    ("spark.shuffle.write_mb", "MB", "lower", "work_per_s", "corpus_curate"),
    ("spark.shuffle.read_mb", "MB", "lower", "work_per_s", "corpus_curate"),
    ("spark.shuffle.fetch_wait_ms", "ms", "lower", "work_per_s",
     "corpus_curate"),
    ("spark.spill_mb", "MB", "lower", "work_per_s", "corpus_curate"),
    ("spark.peak_exec_mem_mb", "MB", "lower", "work_per_s", "corpus_curate"),
    ("spark.persisted_blocks_after", "count", "lower", "retained_heap_mb",
     "all"),
    ("streaming.batch_ms", "ms", "lower", None, "daemon"),
    ("streaming.lines_per_s", "1/s", "higher", None, "daemon"),
    ("streaming.latest_offset_ms", "ms", "lower", "streaming.batch_ms",
     "daemon"),
    ("streaming.query_planning_ms", "ms", "lower", "streaming.batch_ms",
     "daemon"),
    ("streaming.add_batch_ms", "ms", "lower", "streaming.batch_ms", "daemon"),
    ("streaming.wal_commit_ms", "ms", "lower", "streaming.batch_ms", "daemon"),
    ("streaming.commit_offsets_ms", "ms", "lower", "streaming.batch_ms",
     "daemon"),
    ("streaming.state_rows", "count", "lower", "streaming.batch_ms", "daemon"),
    ("streaming.state_commit_ms", "ms", "lower", "streaming.batch_ms",
     "daemon"),
    ("streaming.late_rows_dropped", "count", "lower", "streaming.batch_ms",
     "daemon"),
    ("streaming.ticks_timed_out", "count", "lower", "ok_frac", "daemon"),
    ("daemon.log_tick_p50_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("daemon.highfreq_tick_p50_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("logsys.parse_ms", "ms", "lower", "daemon.log_tick_p50_ms", "daemon"),
    ("logsys.classify_ms", "ms", "lower", "daemon.log_tick_p50_ms", "daemon"),
    ("logsys.redact_ms", "ms", "lower", None, "daemon"),
    ("sinks.full.assemble_ms", "ms", "lower", "heavy_op_ms", "daemon"),
    ("sinks.full.encode_ms", "ms", "lower", "heavy_op_ms", "daemon"),
    ("sinks.zlib_ms", "ms", "lower", "heavy_op_ms", "daemon"),
    ("sinks.upload_ms", "ms", "lower", "heavy_op_ms", "daemon"),
    ("sinks.decode_verify_ms", "ms", "lower", "heavy_op_ms", "daemon"),
    ("sinks.wire_bytes", "bytes", "lower", "heavy_op_ms", "daemon"),
    ("sinks.activity.assemble_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("sinks.activity.encode_ms", "ms", "lower", "op_p50_ms", "daemon"),
    ("operators.minhash_ms", "ms", "lower", "work_per_s", "corpus_curate"),
    ("operators.lsh_candidates_ms", "ms", "lower", "work_per_s",
     "corpus_curate"),
    ("operators.candidate_pairs", "count", "lower", "work_per_s",
     "corpus_curate"),
    ("operators.lsh_useful_ratio", "ratio", "higher", "work_per_s",
     "corpus_curate"),
    ("operators.cc_ms", "ms", "lower", "work_per_s", "corpus_curate"),
    ("operators.semdedup_ms", "ms", "lower", "heavy_op_ms", "corpus_curate"),
    ("trace.overhead_pct", "%", "lower", "op_p50_ms", "all"),
)

# per workload: the unit operation, the heavy operation, and the work
# counter behind work_per_s
OPS = {
    "daemon": ("activity_10s", "full_10min", "planned_s"),
    "corpus_curate": ("corpus_curation_funnel", "sem_dedup", "docs"),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 170


def host_state():
    with open("/proc/loadavg") as fh:
        load = ",".join(fh.read().split()[:3])
    mhz = []
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.lower().startswith("cpu mhz"):
                mhz.append(float(line.split(":")[1]))
    avg = f"{sum(mhz) / len(mhz):.0f}" if mhz else "n/a"
    return (f"host nproc={len(os.sched_getaffinity(0))} loadavg={load} "
            f"cpu_mhz={avg}")


def run_jvm(workload, seed, seconds, trace, data, out, tmp, deadline):
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graftbench.PerfBench",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(cpus), "--data", data, "--out", out, "--tmp", tmp]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=tmp)
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                               env=env, timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit("benchmark JVM ran past its time limit")
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {r.returncode}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def oracle_check(data, out):
    """The repo's DuckDB oracle comparison over the entries' dumps of the
    corpus's check slice: returns (checked, failed, report)."""
    r = subprocess.run(
        [sys.executable, "tools/check.py", os.path.join(data, "check"),
         os.path.join(out, "corpus_check")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=120)
    n_pass = len(re.findall(r"^PASS ", r.stdout, re.M))
    n_fail = len(re.findall(r"^FAIL ", r.stdout, re.M))
    if r.returncode != 0 and n_fail == 0:
        n_fail = 1
    return n_pass + n_fail, n_fail, r.stdout


def end_to_end(workload, res):
    m = res["measured"]
    op_key, heavy_key, work_key = OPS[workload]
    ops = m["samples"].get(op_key, [])
    heavy = m["samples"].get(heavy_key, [])
    wall = sum(m["pass_wall_s"])
    return {
        "setup_s": stats.median(res["setup_s"]),
        "process_cpu_s": stats.median(m["pass_cpu_s"]),
        "retained_heap_mb": res["retained_heap_mb"],
        "ok_frac": 1.0 - res["failed"] / max(1, res["attempted"]),
        "op_p50_ms": stats.median(ops),
        "work_per_s": m["counts"].get(work_key, 0.0) / wall if wall else 0.0,
        "heavy_op_ms": stats.median(heavy),
    }, ops


def per_layer(workload, res, self_ms):
    """The per-layer metrics of a traced run; `self_ms` maps each span
    name to its spans' self times in ms."""
    tr = res.get("traced", {})
    n = max(1, len(tr.get("pass_wall_s", [])))
    out = {name: 0.0 for name, *_ in PER_LAYER}
    for k, v in res.get("engine", {}).items():
        out[k] = v if k == "spark.peak_exec_mem_mb" else v / n
    for k, v in tr.get("counts", {}).items():
        if k in out:
            out[k] = v / n
    for k, v in tr.get("samples", {}).items():
        if k in out:
            out[k] = stats.median(v)
    for k, v in res.get("probes", {}).get("samples", {}).items():
        if k in out:
            out[k] = stats.median(v)
    span_metrics = {
        "logsys.parse_ms": "logsys.parse",
        "logsys.classify_ms": "logsys.classify",
        "logsys.redact_ms": "logsys.redact",
        "sinks.full.assemble_ms": "sinks.full.assemble",
        "sinks.full.encode_ms": "sinks.full.encode",
        "sinks.zlib_ms": "sinks.zlib",
        "sinks.upload_ms": "sinks.upload",
        "sinks.decode_verify_ms": "sinks.decode_verify",
        "sinks.activity.assemble_ms": "sinks.activity.assemble",
        "sinks.activity.encode_ms": "sinks.activity.encode",
        "operators.minhash_ms": "operators.minhash",
        "operators.lsh_candidates_ms": "operators.lsh_candidates",
        "operators.cc_ms": "operators.cc",
        "operators.semdedup_ms": "corpus.entry.sem_dedup",
    }
    for metric, span in span_metrics.items():
        if span in self_ms:
            out[metric] = stats.median(self_ms[span])
    ms = res["measured"]["samples"]
    if workload == "daemon":
        out["daemon.log_tick_p50_ms"] = stats.median(ms.get("log_download_30s", []))
        out["daemon.highfreq_tick_p50_ms"] = stats.median(ms.get("highfreq_1min", []))
    def op_p50(passes):
        return end_to_end(workload, dict(res, measured=passes))[0]["op_p50_ms"]
    untraced = op_p50(res["measured"])
    if untraced:
        out["trace.overhead_pct"] = 100.0 * (op_p50(tr) / untraced - 1.0)
    return out


def human_lines(workload, res, e2e, ops):
    m = res["measured"]
    t = stats.tail(ops)
    tail = (f"p{t[0] * 100:g}={t[1]:.2f} ms" if t else
            "no percentile above the median has 10 samples beyond it")
    lines = [f"{workload}: {len(m['pass_wall_s'])} passes, {len(ops)} ops; "
             f"op tail {tail}",
             f"  spark start {res['spark_start_s']:.2f} s, warm-up "
             f"{res['warmup_s']:.2f} s, setups "
             + ", ".join(f"{x:.3f}" for x in res["setup_s"]) + " s"]
    s = m["samples"]
    # printed for reference only: below 100 samples no p90 has ten
    # samples beyond it (see the op tail above)
    p90 = stats.percentile(ops, 0.9) if ops else 0.0
    named = {"failed_frac": (1 - e2e["ok_frac"], "ratio")}
    if workload == "daemon":
        act = s.get("activity_10s", [])
        named.update({
            "activity_tick_p50_ms": (e2e["op_p50_ms"], "ms"),
            "activity_tick_p90_ms": (p90, "ms"),
            "log_tick_p50_ms": (stats.median(s.get("log_download_30s", [])), "ms"),
            "highfreq_tick_p50_ms": (stats.median(s.get("highfreq_1min", [])), "ms"),
            "full_tick_s": (e2e["heavy_op_ms"] / 1000, "s")})
        lines.append(f"  activity ticks n={len(act)}, full ticks "
                     f"n={len(s.get('full_10min', []))}")
    else:
        named["corpus_docs_per_s"] = (e2e["work_per_s"], "1/s")
        for k in ("corpus_curation_funnel", "dedup_fuzzy_e2e", "sem_dedup"):
            named[f"{k}_p50_ms"] = (stats.median(s.get(k, [])), "ms")
            lines.append(f"  {k} calls: "
                         + ", ".join(f"{x:.0f}" for x in s.get(k, [])) + " ms")
    for k, (v, u) in named.items():
        lines.append(f"  {k} = {v:.6g} {u}")
    for f in m.get("failures", []):
        lines.append(f"  FAILED: {f}")
    lines.append(f"  correct = {res['failed'] == 0} ({res['failed']} of "
                 f"{res['attempted']} checked operations failed)")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S
    print(host_state(), flush=True)
    compile_s = build.build()
    if compile_s:
        print(f"built in {compile_s:.1f} s", flush=True)
        deadline = time.monotonic() + RUN_LIMIT_S
    run = os.path.abspath(os.path.join(
        build.BUILD, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    data, out, tmp = (os.path.join(run, d) for d in ("data", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    try:
        t0 = time.monotonic()
        sizes = gen.generate(a.workload, a.seed, data)
        print(f"inputs (seed {a.seed}, {time.monotonic() - t0:.1f} s): "
              + json.dumps(sizes, sort_keys=True), flush=True)
        res = run_jvm(a.workload, a.seed, a.seconds, a.trace, data, out, tmp,
                      deadline)
        if a.workload == "corpus_curate":
            n, bad, report = oracle_check(data, out)
            res["attempted"] += n
            res["failed"] += bad
            if bad:
                res["measured"].setdefault("failures", []).append(
                    "oracle check: " + " | ".join(
                        l for l in report.splitlines() if l.startswith("FAIL")))
        e2e, ops = end_to_end(a.workload, res)
        for line in human_lines(a.workload, res, e2e, ops):
            print(line)
        units = {name: unit for name, unit, *_ in END_TO_END}
        if a.trace:
            spans = []
            p = os.path.join(out, "spans.jsonl")
            if os.path.exists(p):
                with open(p) as fh:
                    spans = [json.loads(l) for l in fh if l.strip()]
                kept = os.path.join(build.BUILD, "spans",
                                    f"{a.workload}-{a.seed}.jsonl")
                os.makedirs(os.path.dirname(kept), exist_ok=True)
                shutil.copy(p, kept)
                print(f"  spans: {len(spans)} recorded, kept in {kept}")
            self_ns = stats.self_times(spans)
            self_ms = {}
            for sp in spans:
                self_ms.setdefault(sp["name"], []).append(self_ns[sp["id"]] / 1e6)
            for name, xs in sorted(self_ms.items()):
                print(f"  span {name}: n={len(xs)} median self "
                      f"{stats.median(xs):.2f} ms")
            layers = per_layer(a.workload, res, self_ms)
            metrics = {name: {"value": layers[name], "unit": unit}
                       for name, unit, *_ in PER_LAYER}
        else:
            metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": res["failed"] == 0,
                          "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
