"""Run one benchmark workload and print every metric by name and unit.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 its per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("serve_read", "curate_batch")
DEADLINE_S = 170
STAGES = ("exact_dup_groups", "minhash_near_dups", "simhash_near_dups",
          "ngram_jaccard_salted", "semantic_dedup", "decontaminate", "gopher_filter",
          "dsir_select", "pack_sequences")
ENGINE_COUNTERS = (
    "query_successful_requests_cnt", "query_failed_requests_cnt",
    "query_vector_requests_cnt", "query_nonvector_requests_cnt",
    "query_text_requests_cnt", "query_hybrid_requests_cnt",
    "query_prefiltering_requests_cnt", "query_inline_filtering_requests_cnt",
    "query_nonvector_results_fetched_limited_cnt", "query_result_record_dropped_cnt")
SPARK = ("analysis_ms", "optimization_ms", "planning_ms", "actions", "jobs", "stages",
         "tasks", "task_run_ms", "task_wait_ms", "shuffle_bytes", "failed_tasks")


def cpu_count(text):
    """The core count, from `nproc` output; anything but a positive
    integer is an error, never interpolated into the Spark master."""
    s = text.strip()
    if not s.isdigit() or int(s) < 1:
        raise ValueError(f"nproc printed {text!r}, not a positive integer")
    return int(s)


def nproc():
    return cpu_count(subprocess.run(["nproc"], capture_output=True, text=True,
                                    check=True).stdout)


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p / 100 * len(s) + 0.5)) - 1))]


def tail(xs):
    """(percentile, value) of the highest percentile with ten samples
    beyond it: the 11th-largest sample, at 100 * (n - 10) / n. The
    maximum when there are at most ten samples."""
    s = sorted(xs)
    if len(s) <= 10:
        return 100.0, s[-1]
    return 100.0 * (len(s) - 10) / len(s), s[-11]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(workload, inputs, work, seconds, trace, cpus, deadline):
    classes = build.classes_dir()
    jars = os.path.join(build.spark_jars(), "*")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    result = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-Xss16m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", f"{classes}:{jars}", "perfbench.Main", workload, inputs, result,
            str(seconds), str(trace), str(cpus), work])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"{workload}: JVM over the time limit; log in {log.name}")
    except BaseException:
        # interrupted or terminated: never leave the JVM behind
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        log.close()
    if rc != 0 or not os.path.exists(result):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{workload}: JVM exited {rc}")
    with open(result) as f:
        return json.load(f)


# ---- serve_read ------------------------------------------------------------

def serve_report(res, inputs, trace, seed):
    reqs = {}
    with open(f"{inputs}/requests.jsonl") as f:
        for line in f:
            q = json.loads(line)
            reqs[q["id"]] = q
    orc = oracle.ServeOracle(inputs)
    fails = []
    done = res["requests"]
    for d in done:
        q = reqs[d["id"]]
        why = oracle.check_reply(q, d["reply"], d["error"], orc.expected(q))
        d["ok"] = why is None
        if why:
            fails.append(f"request {d['id']} ({q['template']}): {why}")
    for b in res.get("feed", []):
        if b["error"] or not (b["visible_ok"] and b["delete_ok"]):
            fails.append(f"feed batch {b['batch']}: upsert visible={b['visible_ok']} "
                         f"delete hidden={b['delete_ok']} error={b['error']}")
    if trace:
        with open(f"{inputs}/feed.json") as f:
            want = sum(b["due_s"] is not None for b in json.load(f))
        if len(res.get("feed", [])) != want:
            fails.append(f"feed: {len(res.get('feed', []))} of {want} batches applied")
    attempted = len(done) + len(res.get("feed", []))
    served = [d for d in done if d["phase"] != "slice"]
    # all reads, each timed from its due time: in the closed phase a read
    # is due when it is sent. The open phase alone (84 reads) left the
    # latency figures at the mercy of a few bursts and slow seconds.
    reads = served
    lat = [d["end_ms"] - d["due_ms"] for d in reads]
    by_kind = {k: [d["end_ms"] - d["due_ms"] for d in reads if d["kind"] == k]
               for k in ("search", "knn", "aggregate")}
    closed = [d for d in served if d["phase"] == "closed"]
    capacity = (len(closed) / ((res["closed_end_ms"] - res["closed_start_ms"]) / 1000)
                if closed else 0.0)
    seen, repeats = set(), 0
    for d in sorted(served, key=lambda d: d["send_ms"]):
        k = json.dumps([reqs[d["id"]]["argv"], reqs[d["id"]].get("blob")])
        repeats += k in seen
        seen.add(k)
    # the traced run's maintenance slice: its feed and the serial reads
    # made while it ran
    feed = res.get("feed", [])
    fresh = [b["end_ms"] - b["due_ms"] for b in feed]
    windows = [(b["start_ms"], b["end_ms"]) for b in feed]
    slice_reads = [d for d in done if d["phase"] == "slice"]
    def in_batch(d):
        return any(d["send_ms"] < e and d["end_ms"] > s for s, e in windows)
    tp, tv = tail(lat)
    detail = {
        "reads": len(reads), "tail_percentile": tp,
        "read_p50_ms": med(lat),
        "search_p50_ms": med(by_kind["search"]), "knn_p50_ms": med(by_kind["knn"]),
        "aggregate_p50_ms": med(by_kind["aggregate"]),
        "read_capacity_qps": capacity, "closed_loop_reads": len(closed),
        "repeat_request_ratio": repeats / max(1, len(served)),
        "gen_late_ms_p99": pct(res["late_ms"], 99) if res["late_ms"] else 0.0,
        "gc_ms": res["gc_ms"],
    }
    if feed:
        detail.update({"batches": len(feed), "slice_reads": len(slice_reads),
                       "freshness_p50_ms": med(fresh), "freshness_p90_ms": pct(fresh, 90)})
    e2e = {
        "setup_s": med(res["setup_s_reps"]),
        "latency_mean_ms": statistics.mean(lat), "latency_tail_ms": tv,
        "throughput_per_s": capacity,
        # the median of the window's samples, not the value at its end: the
        # engine's caches grow storage by ~4 MB and release it in cycles,
        # so the end value fell on either side by chance
        "storage_mb": med([s[2] for s in res["samples"]]),
    }
    detail["heap_live_mb"] = res["heap_live_mb"]
    layer = {}
    if trace:
        spans = res["spans"]
        def span_ms(name):
            return [s[3] - s[2] for s in spans if s[1] == name]
        per = res["per_request"]
        layer.update({
            "resp.ping_rtt_ms_p50": med(span_ms("resp.ping")),
            "resp.reply_bytes_mean": statistics.mean(d["bytes"] for d in served),
            "query.filter_parse_ms_p50": med(span_ms("query.filter_parse")),
            "query.agg_parse_ms_p50": med(span_ms("query.agg_parse")),
            "compile.predicate_ms_p50": med(span_ms("compile.predicate")),
            "engine.self_ms_p50": med([r["engine_self_ms"] for r in per]),
            "engine.jobless_reply_ratio": sum(r["jobs"] == 0 for r in per) / len(per),
            "engine.create_index_ms": sum(res["create_index_ms"]),
            "text.posting_build_ms": res["text_posting_build_ms"],
            "text.posting_rows": res["text_posting_rows"],
            "sources.enrich_ms": res["sources_enrich_ms"],
            "jvm.gc_ms": res["gc_ms"],
        })
        for k in SPARK:
            layer[f"spark.{k}"] = statistics.mean(r[k] for r in per)
        for k in ENGINE_COUNTERS:
            layer[f"engine.metrics.{k}"] = res["engine_metrics_delta"].get(k, 0)
        if feed:
            ob = [b["on_batch_ms"] + b["state_ms"] for b in feed]
            inb = [d["end_ms"] - d["send_ms"] for d in slice_reads if in_batch(d)]
            offb = [d["end_ms"] - d["send_ms"] for d in slice_reads if not in_batch(d)]
            layer.update({
                "streaming.on_batch_ms_p50": med(ob), "streaming.on_batch_ms_p90": pct(ob, 90),
                "streaming.on_batch_jobs": res.get("feed_jobs", 0) / len(feed),
                "streaming.visible_probe_ms_p50": med([b["probe_ms"] for b in feed]),
                "streaming.backlog_max": max(b["backlog"] for b in feed),
                "streaming.read_p99_in_batch_ms": tail(inb)[1] if inb else 0.0,
                "streaming.read_p99_off_batch_ms": tail(offb)[1] if offb else 0.0,
                "streaming.base_rewrites": max(b["base_versions_on_disk"] for b in feed),
                "workload.freshness_p50_ms": detail["freshness_p50_ms"],
                "workload.freshness_p90_ms": detail["freshness_p90_ms"],
            })
        layer.update({
            "gen.late_ms_p99": detail["gen_late_ms_p99"],
            "workload.repeat_request_ratio": detail["repeat_request_ratio"],
            "workload.search_p50_ms": detail["search_p50_ms"],
            "workload.knn_p50_ms": detail["knn_p50_ms"],
            "workload.aggregate_p50_ms": detail["aggregate_p50_ms"],
        })
    return attempted, fails, e2e, layer, detail


# ---- curate_batch ----------------------------------------------------------

def curate_report(res, inputs, trace, seed):
    with open(f"{inputs}/planted.json") as f:
        planted = json.load(f)
    passes = res["passes"]
    # stage digests must repeat across runs of one seed on one build
    known = os.path.join(build.BUILD, "digests",
                         os.path.basename(build.classes_dir()), f"curate-{seed}.json")
    first = {s["name"]: s["digest"] for s in passes[0]["stages"]}
    if os.path.exists(known):
        with open(known) as f:
            reference = json.load(f)
    else:
        os.makedirs(os.path.dirname(known), exist_ok=True)
        with open(known, "w") as f:
            json.dump(first, f)
        reference = first
    fails, recall = oracle.check_curate(planted, passes, reference)
    attempted = sum(len(p["stages"]) for p in passes)
    ms = [p["ms"] for p in passes]
    tp, tv = tail(ms)
    docs_per_s = res["n_docs"] / (med(ms) / 1000)
    detail = {"passes": len(passes), "n_docs": res["n_docs"], "tail_percentile": tp,
              "curate_docs_per_s": docs_per_s, "gc_ms": res["gc_ms"],
              "planted_pair_recall": recall}
    e2e = {"setup_s": med(res["setup_s_reps"]), "latency_mean_ms": statistics.mean(ms),
           "latency_tail_ms": tv, "throughput_per_s": docs_per_s,
           "storage_mb": res["storage_mb"]}
    detail["heap_live_mb"] = res["heap_live_mb"]
    layer = {}
    if trace:
        per = res["per_stage"]
        for k in SPARK:
            layer[f"spark.{k}"] = sum(r[k] for r in per) / len(passes)
        for name in STAGES:
            rows = [r for r in per if r["name"] == name]
            st = [s for p in passes for s in p["stages"] if s["name"] == name]
            layer[f"pipeline.{name}.ms"] = med([s["end_ms"] - s["start_ms"] for s in st])
            layer[f"pipeline.{name}.jobs"] = statistics.mean(r["jobs"] for r in rows)
            layer[f"pipeline.{name}.shuffle_bytes"] = statistics.mean(
                r["shuffle_bytes"] for r in rows)
            layer[f"pipeline.{name}.rows_out"] = st[0]["rows_out"]
        layer["pipeline.planted_pair_recall"] = recall["minhash_near_dups"]
        layer["pipeline.simhash_pair_recall"] = recall["simhash_near_dups"]
        layer["pipeline.semantic_pair_recall"] = recall["semantic_dedup"]
        layer["jvm.gc_ms"] = res["gc_ms"]
    return attempted, fails, e2e, layer, detail


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}, \
        {m["name"]: m["unit"] for m in spec["end_to_end"]}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    layer_units, e2e_units = per_layer_names()
    cpus = nproc()
    classes = build.classes_dir()
    # the first run in a checkout compiles; the time limit starts after it
    deadline = time.time() + DEADLINE_S

    with open(gen.__file__, "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    inputs = os.path.join(build.BUILD, "inputs", f"{a.workload}-{a.seed}-{a.seconds}-{gen_hash}")
    if not os.path.exists(os.path.join(inputs, "params.json")):
        shutil.rmtree(inputs, ignore_errors=True)
        # keep the few most recent input sets, not one per seed ever run
        old = sorted(glob.glob(os.path.join(build.BUILD, "inputs", "*")), key=os.path.getmtime)
        for d in old[:-3]:
            shutil.rmtree(d, ignore_errors=True)
        gen.generate(a.workload, a.seed, a.seconds, inputs + ".tmp")
        os.rename(inputs + ".tmp", inputs)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(a.workload, inputs, work, a.seconds, a.trace, cpus, deadline)
    finally:
        # keep the result artifact (stall signals, spans), drop Spark's scratch
        for sub in os.listdir(work):
            if sub not in ("result.json", "jvm.log"):
                shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    report = serve_report if a.workload == "serve_read" else curate_report
    attempted, fails, e2e, layer, detail = report(res, inputs, a.trace, a.seed)
    art = os.path.join(build.BUILD, "artifacts")
    os.makedirs(art, exist_ok=True)
    # keyed like digests/: a traced run is only ever compared with an
    # untraced run of the same build, seed and window
    build_id = os.path.basename(classes)[len("classes-"):]
    run_id = f"{a.workload}-seed{a.seed}-s{a.seconds}-{build_id}"
    stem = f"{run_id}-trace{a.trace}"
    unmeasured = []
    if a.trace:
        # tracing overhead: this traced run's mean latency minus the
        # untraced run's, when one was run before
        untraced = os.path.join(art, f"{run_id}-trace0.json")
        if not os.path.exists(untraced):
            unmeasured.append("trace.latency_mean_delta_ms (no --trace 0 run of this build, "
                              "seed and --seconds in this checkout)")
        else:
            with open(untraced) as f:
                base = report(json.load(f), inputs, 0, a.seed)[2]
            layer["trace.latency_mean_delta_ms"] = e2e["latency_mean_ms"] - base["latency_mean_ms"]
            detail["untraced_latency_mean_ms"] = base["latency_mean_ms"]
    shutil.move(os.path.join(work, "result.json"), os.path.join(art, stem + ".json"))
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        layer["jvm.heap_live_mb"] = detail["heap_live_mb"]
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in layer_units.items()}
        missing = sorted(set(layer_units) - set(layer) - {"trace.latency_mean_delta_ms"})
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}
        missing = []
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace} cpus {cpus}")
    print(f"  inputs digest {gen.digest(inputs)}")
    for k, v in detail.items():
        print(f"  detail {k} = {v}")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    if missing:
        print(f"  idle on this workload (reported as 0): {', '.join(missing)}")
    for what in unmeasured:
        print(f"  unmeasured (reported as 0): {what}")
    print(f"  ops_attempted = {attempted}")
    print(f"  ops_failed = {len(fails)}")
    for why in fails[:20]:
        print(f"    failed: {why}")
    print(f"  output check: {'PASS' if not fails else 'FAIL'}")
    print(f"  artifact: {os.path.relpath(os.path.join(art, stem + '.json'), ROOT)}")
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": len(fails),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
