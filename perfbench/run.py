#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.py) into .bench_build/. The harness JVM runs
`local[N]` with N = nproc and one closed-loop client; this script turns
its raw record into metrics, keeps a record of the run under
.bench_build/records/, prints a readable summary on stderr and, as the
last line of stdout, one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Other modes, not used for timing:

  --mode expected   rewrite perfbench/expected/digests.json from this code
  --mode bridge     write the count() / noop / op timing table to perfbench/bridge/
  --mode selftest   check that the output checks catch a perturbed output
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("matmul", "pipeline")
BENCH_DIR = "perfbench"
DATA_DIR = os.path.join(BENCH_DIR, "data")
EXPECTED = os.path.join(BENCH_DIR, "expected", "digests.json")
RUN_DEADLINE_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--mode", choices=("run", "expected", "bridge", "selftest"), default="run")
    a = p.parse_args()
    if a.mode == "run" and not a.workload:
        p.error("--workload is required")
    return a


def cores():
    return len(os.sched_getaffinity(0))


def loadavg():
    return list(os.getloadavg())


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, mode, args, work, deadline):
    """Start the harness JVM, wait for it, return its raw record."""
    out = os.path.join(work, "raw.json")
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--mode", mode, "--cores", str(cores()),
              "--data", DATA_DIR, "--work", work, "--expected", EXPECTED, "--out", out]
           + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("harness JVM ran out of time", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        fail(f"harness JVM exited with {code}", 3)
    with open(out) as fh:
        return json.load(fh)


def op_latency(s):
    return s["declare_s"] + s["plan_s"] + s["exec_s"]


def pass_sums(samples, traced):
    by_pass = {}
    for s in samples:
        if s["traced"] == traced:
            by_pass[s["pass"]] = by_pass.get(s["pass"], 0.0) + op_latency(s)
    return [by_pass[p] for p in sorted(by_pass)]


def end_to_end(raw, t_launch):
    timed = raw["samples"]
    untraced = [s for s in timed if not s["traced"]]
    lat = [op_latency(s) for s in untraced]
    passes = pass_sums(timed, traced=False)
    # a traced run times only some passes untraced; its pooled count is
    # what it is, and its end-to-end numbers are for the record only
    guaranteed = len(lat) if raw["trace"] else raw["ops_per_pass"] * raw["min_passes"]
    p, tail_v, beyond = stats.tail(lat, guaranteed)
    attempted, failed = stats.failure_counts(timed)
    session_s = raw["session_ready_ms"] / 1000.0 - t_launch
    setup_s = session_s + stats.median(raw["setup_reps_s"]) + sum(raw["warm_passes_s"])
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (stats.median(passes), "s"),
        "op_s_p50": (stats.median(lat), "s"),
        "op_s_tail": (tail_v, "s"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }
    counts = {
        "setup_s": {"jvm_start_s": raw["jvm_start_ms"] / 1000.0 - t_launch,
                    "session_s": session_s, "reps_s": raw["setup_reps_s"],
                    "warm_passes_s": raw["warm_passes_s"], "check_s": raw["check_s"]},
        "pass_s": {"passes": len(passes)},
        "op_s_p50": {"samples": len(lat)},
        "op_s_tail": {"percentile": p, "samples": len(lat), "samples_beyond": beyond,
                      "guaranteed_samples": guaranteed},
        "failed_ratio": {"value": failed / attempted, "failed": failed, "attempted": attempted},
    }
    return metrics, counts, attempted, failed


def is_tables_job(job):
    """Schema inference: a job whose call site is the engine's `Tables`.
    Every other job belongs to the phase (declare, plan, exec) that ran it."""
    return "Tables.scala" in job["call_site"]


def spans_and_layers(raw, cores_n):
    """Per-layer metrics of the traced passes and the span tree they
    come from: workload > pass > op > phase > job > stage."""
    samples = [s for s in raw["samples"] if s["traced"]]
    passes = {p["pass"]: p for p in raw["passes"] if p["traced"]}
    stages = {s["id"]: s for s in raw.get("stages", [])}
    phase_of = {}
    spans = [{"id": "w", "parent": None, "kind": "workload", "name": raw["workload"],
              "start_ms": raw["timing_begin_ms"], "end_ms": raw["timing_end_ms"]}]
    for pno, p in sorted(passes.items()):
        spans.append({"id": f"p{pno}", "parent": "w", "kind": "pass", "name": f"pass {pno}",
                      "start_ms": p["start_ms"], "end_ms": p["end_ms"]})
    for s in samples:
        ph = s["phases"]
        spans.append({"id": s["span"], "parent": f"p{s['pass']}", "kind": "op", "name": s["op"],
                      "start_ms": ph[0]["start_ms"], "end_ms": ph[-1]["end_ms"]})
        for x in ph:
            sid = f"{s['span']}/{x['name']}"
            phase_of[sid] = (s, x["name"])
            spans.append({"id": sid, "parent": s["span"], "kind": "phase", "name": x["name"],
                          "start_ms": x["start_ms"], "end_ms": x["end_ms"]})
    phase_spans = [sp for sp in spans if sp["kind"] == "phase"]
    job_rows = []
    for j in raw.get("jobs", []):
        parent = j["span"] if j["span"] in phase_of else None
        if parent is None:  # untagged: the phase it started in
            parent = next((sp["id"] for sp in phase_spans
                           if sp["start_ms"] <= j["start_ms"] <= sp["end_ms"]), None)
        if parent is None:
            continue
        sample, phase = phase_of[parent]
        job_rows.append((j, sample, phase))
        spans.append({"id": f"job{j['id']}", "parent": parent, "kind": "job",
                      "name": j["call_site"], "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    stage_job = {}  # a stage shared by several jobs belongs to the first
    for j, _, _ in job_rows:
        for sid in j["stages"]:
            st = stages.get(sid)
            if st is None or sid in stage_job:
                continue
            stage_job[sid] = j["id"]
            spans.append({"id": f"stage{sid}", "parent": f"job{j['id']}", "kind": "stage",
                          "name": st["name"], "start_ms": st["submit_ms"],
                          "end_ms": st["end_ms"]})
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start_ms"], sp["end_ms"]))
    for sp in spans:
        sp["dur_s"] = (sp["end_ms"] - sp["start_ms"]) / 1000.0
        sp["self_s"] = stats.self_time(sp["start_ms"], sp["end_ms"],
                                       children.get(sp["id"], [])) / 1000.0

    facts = raw.get("facts", {})
    flops = facts.get("flops", {})
    per_pass = []
    for pno in sorted(passes):
        ss = [s for s in samples if s["pass"] == pno]
        jr = [(j, s, ph) for j, s, ph in job_rows if s["pass"] == pno]
        dur = lambda j: (j["end_ms"] - j["start_ms"]) / 1000.0  # noqa: E731
        tables = [j for j, _, _ in jr if is_tables_job(j)]
        decl_tables_s = sum(dur(j) for j, _, ph in jr if ph == "declare" and is_tables_job(j))
        exec_jobs = [j for j, _, ph in jr if ph == "exec"]
        exec_ids = {j["id"] for j in exec_jobs}
        exec_stages = [stages[sid] for sid, jid in stage_job.items() if jid in exec_ids]
        exec_s = sum(s["exec_s"] for s in ss)
        busy = sum(st["run_ms"] for st in exec_stages) / 1000.0
        skews = [max(st["task_ms"]) / stats.median(st["task_ms"]) for st in exec_stages
                 if len(st["task_ms"]) >= 2 and stats.median(st["task_ms"]) > 0]
        queries = [s for s in ss if s["kind"] == "query" and s["rows"] >= 0]
        out_rows = sum(max(s["rows"], 1) for s in queries)
        exec_spans = [sp for sp in spans if sp["kind"] == "phase" and sp["name"] == "exec"
                      and sp["parent"].startswith(f"p{pno}/")]
        m = {
            "tables.load_jobs": len(tables),
            "tables.load_s": sum(dur(j) for j in tables),
            "declare.s": sum(s["declare_s"] for s in ss),
            "declare.self_s": sum(s["declare_s"] for s in ss) - decl_tables_s,
            "declare.jobs": sum(1 for _, _, ph in jr if ph == "declare"),
            "plan.s": sum(s["plan_s"] for s in ss),
            "plan.nodes": sum(max(s["plan_nodes"], 0) for s in ss),
            "exec.s": exec_s,
            "exec.driver_s": sum(sp["self_s"] for sp in exec_spans),
            "exec.jobs": len(exec_jobs),
            "exec.stages": len(exec_stages),
            "exec.tasks": sum(st["tasks"] for st in exec_stages),
            "exec.task_busy_s": busy,
            "exec.core_util": busy / (exec_s * cores_n) if exec_s > 0 else 0.0,
            "exec.sched_wait_s": sum(st["sched_wait_ms"] for st in exec_stages) / 1000.0,
            "exec.fetch_wait_s": sum(st["fetch_wait_ms"] for st in exec_stages) / 1000.0,
            "exec.gc_s": sum(st["gc_ms"] for st in exec_stages) / 1000.0,
            "exec.shuffle_read_bytes": sum(st["shuffle_read"] for st in exec_stages),
            "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in exec_stages),
            "exec.spill_bytes": sum(st["spill"] for st in exec_stages),
            "exec.task_skew_max": max(skews) if skews else 1.0,
            "exec.rows_per_output_row":
                sum(max(s["output_rows_sum"], 0) for s in queries) / out_rows if queries else 0.0,
        }
        mm = [s for s in ss if s["op"] in flops]
        gflop = sum(flops[s["op"]] for s in mm) / 1e9
        mm_exec = sum(s["exec_s"] for s in mm)
        m["matmul.gflops"] = gflop / mm_exec if mm_exec > 0 else 0.0
        m["matmul.shuffle_bytes_per_gflop"] = (
            m["exec.shuffle_write_bytes"] / gflop if gflop > 0 else 0.0)
        lake_ops = {k: [s for s in ss if s["check_key"] == k]
                    for k in ("append", "compact", "serve")}
        write_ids = {j["id"] for j, s, _ in jr if s["kind"] == "write"}
        written = sum(stages[sid]["bytes_written"] for sid, jid in stage_job.items()
                      if jid in write_ids)
        ingested = facts.get("ingested_bytes_per_pass", 0)
        serves = lake_ops["serve"]
        m.update({
            "lake.append_s": sum(op_latency(s) for s in lake_ops["append"]),
            "lake.compact_s": sum(op_latency(s) for s in lake_ops["compact"]),
            "lake.serve_s": sum(op_latency(s) for s in serves),
            "lake.bytes_written": written,
            "lake.write_amplification": written / ingested if ingested else 0.0,
            "lake.files_after_pass": passes[pno].get("live_files", 0),
            "lake.files_scanned_per_serve":
                sum(max(s["files_read"], 0) for s in serves) / len(serves) if serves else 0.0,
        })
        walls = [(sp["end_ms"] - sp["start_ms"]) / 1000.0 for sp in spans
                 if sp["kind"] == "op" and sp["parent"] == f"p{pno}"]
        m["trace.phase_share_of_op"] = (sum(op_latency(s) for s in ss) / sum(walls)
                                        if sum(walls) > 0 else 0.0)
        per_pass.append(m)
    layers = {k: stats.median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
    for fn, v in raw.get("kernels", {}).items():
        layers[f"kernel.{fn}.rows_per_s"] = v
    traced = pass_sums(raw["samples"], traced=True)
    untraced = pass_sums(raw["samples"], traced=False)
    layers["trace.overhead_ratio"] = stats.median(traced) / stats.median(untraced)
    return layers, spans


def units_of(section):
    with open("BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def write_record(record, name):
    d = os.path.join(build.BUILD_DIR, "records")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    return path


def check_inputs():
    missing = [t for t in TABLES if not os.path.exists(os.path.join(DATA_DIR, f"{t}.parquet"))]
    if missing:
        fail(f"missing input tables under {DATA_DIR}: {missing}")
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("no engine sources at src/main/scala; run from the repository root")


def main():
    a = parse()
    check_inputs()
    try:
        classpath = build.build(log=sys.stderr)
    except (RuntimeError, OSError) as e:
        fail(f"build failed: {e}")
    t_launch = time.time()
    deadline = t_launch + RUN_DEADLINE_S
    work = os.path.join(build.BUILD_DIR, "work", f"{a.mode}-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = loadavg()
    try:
        if a.mode != "run":
            raw = run_jvm(classpath, a.mode, ["--seed", str(a.seed)], work,
                          t_launch + 3600)
            return other_mode(a, raw)
        raw = run_jvm(classpath, "run", ["--workload", a.workload, "--seed", str(a.seed),
                                         "--seconds", str(a.seconds),
                                         "--trace", str(a.trace)], work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = loadavg()
    n = cores()
    e2e, counts, attempted, failed = end_to_end(raw, t_launch)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": n, "git_commit": git_commit(), "spark_version": raw["spark_version"],
        "spark_conf": raw["spark_conf"], "loadavg_before": load_before,
        "loadavg_after": load_after,
        "end_to_end": {k: {"value": v, "unit": u, **counts.get(k, {})}
                       for k, (v, u) in e2e.items()},
        "failed_ratio": counts["failed_ratio"],
        "checks": raw["checks"], "facts": raw["facts"],
        "samples": [{k: s[k] for k in ("pass", "op", "traced", "declare_s", "plan_s",
                                       "exec_s", "settle_s", "rows", "error", "check_failed")}
                    for s in raw["samples"]],
    }
    if a.trace:
        layers, spans = spans_and_layers(raw, n)
        units = units_of("per_layer")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        record["per_layer"] = layers
        record["spans"] = spans
    else:
        units = units_of("end_to_end")
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in units.items()}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = write_record(record, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}.json")
    summarize(record, path)
    bad = [c for c in raw["checks"] if not c["ok"]]
    for c in bad[:5]:
        print(f"[perfbench] check failed: {c['key']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def summarize(record, path):
    out = sys.stderr
    print(f"[perfbench] {record['workload']} seed={record['seed']} N={record['cores']} "
          f"loadavg {record['loadavg_before'][0]:.2f} -> {record['loadavg_after'][0]:.2f}",
          file=out)
    for k, v in record["end_to_end"].items():
        extra = {x: y for x, y in v.items() if x not in ("value", "unit")}
        print(f"  {k:18s} {v['value']:12.4f} {v['unit']:3s} {extra}", file=out)
    fr = record["failed_ratio"]
    print(f"  {'failed_ratio':18s} {fr['value']:12.4f}     "
          f"{fr['failed']}/{fr['attempted']} ops", file=out)
    if "per_layer" in record:
        for k, v in sorted(record["per_layer"].items()):
            print(f"  {k:40s} {v:14.4f}", file=out)
    print(f"[perfbench] record: {path}", file=out)


def write_bridge(raw):
    """The count()-to-full-plan bridge table, as JSON and as Markdown."""
    bridge_dir = os.path.join(BENCH_DIR, "bridge")
    os.makedirs(bridge_dir, exist_ok=True)
    meta = {"cores": cores(), "git_commit": git_commit(), "loadavg": loadavg()}
    with open(os.path.join(bridge_dir, "count_vs_noop.json"), "w") as fh:
        json.dump({**meta, **raw}, fh, indent=1)
    lines = [
        "# count() versus the full declared plan",
        "",
        f"Min of three per cell, seconds, `local[{meta['cores']}]`, the fixed sf0.01",
        "tables of `perfbench/data`, commit "
        f"`{(meta['git_commit'] or 'unknown')[:12]}`. `count_s` is what `graft.Bench`",
        "times (declare, then `count()`); `noop_write_s` declares and writes the",
        "DataFrame to the `noop` sink; `op_s` is the benchmark's op (declare, plan,",
        "consume the planned plan). `(cut)` marks ops first proposed for a dedup or",
        "catalog workload and left out to fit the run budget. Regenerate with",
        "`python3 perfbench/run.py --mode bridge`.",
        "",
        "| workload | op | count_s | noop_write_s | op_s | noop / count |",
        "|---|---|---:|---:|---:|---:|",
    ]
    for row in raw["rows"]:
        lines.append(f"| {row['workload']} | `{row['op']}` | {row['count_s']:.3f} | "
                     f"{row['noop_write_s']:.3f} | {row['op_s']:.3f} | "
                     f"{row['noop_write_s'] / row['count_s']:.2f} |")
    with open(os.path.join(bridge_dir, "count_vs_noop.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"[perfbench] wrote {bridge_dir}/count_vs_noop.{{json,md}}", file=sys.stderr)


def other_mode(a, raw):
    if a.mode == "expected":
        with open(EXPECTED, "w") as fh:
            json.dump(raw, fh, indent=1, sort_keys=True)
        print(f"[perfbench] wrote {EXPECTED}: {len(raw)} ops", file=sys.stderr)
    elif a.mode == "bridge":
        write_bridge(raw)
    elif a.mode == "selftest":
        bad = [k for k, ok in raw["selftest"].items() if not ok]
        print(json.dumps(raw["selftest"]))
        if bad:
            fail(f"self-test failed: {bad}", 1)


if __name__ == "__main__":
    main()
