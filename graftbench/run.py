"""The graft benchmark: one workload, one run.

    python3 graftbench/run.py --workload corpus_pipeline --seed 1 --seconds 27 --trace 0

Builds the engine and harness (build.py), generates the workload's inputs
from the seed (gen.py, twice: the two copies must be byte-identical), runs
the workload in one JVM at local[<cores>], and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics. Exits non-zero if
any output check failed or the run could not complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("corpus_pipeline", "live_topic")
# the user-facing operation each workload's op_* metrics time
PRIMARY = {"corpus_pipeline": "pass", "live_topic": "visible"}
FUNCTIONS = ("ulid_ts_ms", "char_ngrams", "winnow_fps", "cdc_chunks", "slide_win_hashes",
             "phash32", "hyperplane_bands", "long_dot", "quantize_vec")
LOOKUPS = ("last", "cursor_of", "seek", "receive", "cursor_commit")
# limit of a run after its build (the build has its own limits)
RUN_LIMIT_S = 170


def end_to_end(res, workload, setup_s):
    ops = [o for o in res["ops"] if o["phase"] == "plain" and o["kind"] == PRIMARY[workload]]
    lat = [(o["end"] - o["due"]) / 1e6 for o in ops]
    attempted, failed = counts(res)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (stats.median(lat), "ms"),
        "op_p95_ms": (stats.tail(lat)[0], "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "success_rate": (1.0 - failed / attempted, "ratio"),
    }


def counts(res):
    attempted = len(res["ops"]) + res["checks"]
    failed = sum(1 for o in res["ops"] if not o["ok"]) + res["checks_failed"]
    return max(1, attempted), failed


def per_layer(res, workload, setup):
    spans = res["spans"]
    self_ns = stats.self_times(spans)
    sub = {k: stats.subtree_sums(spans, k) for k in ("jobs", "stages", "tasks", "shuffle_write", "spill")}
    named = lambda name: [s for s in spans if s["name"] == name]
    med_self = lambda name: stats.median([self_ns[s["id"]] / 1e9 for s in named(name)])
    med_of = lambda name, key: stats.median([sub[key][s["id"]] for s in named(name)])
    samples = {k: stats.median(v) for k, v in res["samples"].items()}
    layer = dict(res["layer"])
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    # rawdata
    put("rawdata.publish_s", med_self("rawdata.publish"), "s")
    put("rawdata.publish_jobs", med_of("rawdata.publish", "jobs"), "count")
    put("rawdata.publish_shuffle_bytes", med_of("rawdata.publish", "shuffle_write"), "bytes")
    put("rawdata.list_s", layer.get("rawdata.list_s", 0.0), "s")
    put("rawdata.list_calls", layer.get("rawdata.list_calls", 0), "count")
    lookups = [s for s in spans if s["name"].startswith("rawdata.lookup.")]
    for k in LOOKUPS:
        put(f"rawdata.lookup_s.{k}", med_self(f"rawdata.lookup.{k}"), "s")
    n_lk = max(1, len(lookups))
    put("rawdata.lookup_jobs", sum(sub["jobs"][s["id"]] for s in lookups) / n_lk, "count")
    put("rawdata.lookup_tasks", sum(sub["tasks"][s["id"]] for s in lookups) / n_lk, "count")
    put("rawdata.bytes_per_msg", samples.get("rawdata.bytes_per_msg", 0.0), "bytes")
    put("rawdata.files_written", samples.get("rawdata.files_written", 0.0), "count")
    put("rawdata.codec_encode_msgs_per_s", layer.get("rawdata.codec_encode_msgs_per_s", 0.0), "1/s")
    put("rawdata.codec_decode_msgs_per_s", layer.get("rawdata.codec_decode_msgs_per_s", 0.0), "1/s")
    # sources
    put("sources.topic_scan_s", med_self("sources.topic_scan"), "s")
    put("sources.topic_scan_rows", samples.get("sources.topic_scan_rows", 0.0), "count")
    put("sources.files_scanned_ratio", samples.get("sources.files_scanned_ratio", 0.0), "ratio")
    put("sources.export_s", med_self("sources.export"), "s")
    put("sources.export_files", samples.get("sources.export_files", 0.0), "count")
    put("sources.export_bytes", samples.get("sources.export_bytes", 0.0), "bytes")
    # functions and operators
    for fn in FUNCTIONS:
        put(f"functions.{fn}_rows_per_s", layer.get(f"functions.{fn}_rows_per_s", 0.0), "1/s")
    put("operators.quantize_s", layer.get("operators.quantize_s", 0.0), "s")
    put("operators.banded_pairs_s", layer.get("operators.banded_pairs_s", 0.0), "s")
    # queries: index builds
    builds = ("lsh", "embed", "token", "ivf")
    for b in builds:
        put(f"queries.{b}_build_s", med_self(f"queries.{b}_build"), "s")
    for st in ("sig", "band", "verify"):
        put(f"queries.embed_{st}_s", samples.get(f"queries.embed_{st}_s", 0.0), "s")
    passes = [s for s in spans if s["name"] == "pipeline.pass"]
    per_pass = lambda key: stats.median([sum(sub[key][s["id"]] for s in spans
                                             if s["op"] == p["id"] and s["name"] in
                                             {f"queries.{b}_build" for b in builds})
                                         for p in passes])
    put("queries.build_jobs", per_pass("jobs"), "count")
    put("queries.build_shuffle_bytes", per_pass("shuffle_write"), "bytes")
    put("queries.lsh_verified_per_candidate", samples.get("queries.lsh_verified_per_candidate", 0.0), "ratio")
    med_dur = lambda name: stats.median([(s["end"] - s["start"]) / 1e9 for s in named(name)])
    put("queries.clean_s", med_dur("queries.clean"), "s")
    put("queries.mix_s", med_dur("queries.mix"), "s")
    # queries: the registry entries the pipeline runs (pipe_clean_corpus and
    # pipe_train_mix), split into construction and action
    units = named("queries.clean") + named("queries.mix")
    per = lambda total: total / len(passes) if passes else 0.0
    dur_ms = lambda name: stats.median([(s["end"] - s["start"]) / 1e6 for s in named(name)])
    put("queries.construct_ms_p50", dur_ms("queries.construct"), "ms")
    put("queries.action_ms_p50", dur_ms("queries.action"), "ms")
    put("queries.construct_jobs", per(sum(sub["jobs"][s["id"]] for s in named("queries.construct"))), "count")
    put("queries.jobs_per_query_p50", stats.median([sub["jobs"][s["id"]] for s in units]), "count")
    put("queries.stages_per_query_p50", stats.median([sub["stages"][s["id"]] for s in units]), "count")
    put("queries.shuffle_bytes_per_pass", per(sum(sub["shuffle_write"][s["id"]] for s in units)), "bytes")
    put("queries.spill_bytes_per_pass", per(sum(sub["spill"][s["id"]] for s in units)), "bytes")
    # streaming (traced half of live_topic)
    prog = [p for p in res["streaming"] if p["phase"] == "traced"]
    put("streaming.batch_ms_p50", stats.median([p["trigger_ms"] for p in prog]), "ms")
    put("streaming.batch_ms_p95", stats.tail([p["trigger_ms"] for p in prog])[0], "ms")
    put("streaming.batches", len(prog), "count")
    put("streaming.rows_per_batch_p50", stats.median([p["rows"] for p in prog]), "count")
    put("streaming.latest_offset_ms_p50", stats.median([p["latest_offset_ms"] for p in prog]), "ms")
    put("streaming.state_rows", layer.get("streaming.state_rows", 0), "count")
    put("streaming.backlog_files", layer.get("streaming.backlog_files", 0), "count")
    # session and harness
    put("session.start_s", setup["session_start_s"], "s")
    put("session.warmup_s", setup["warmup_s"], "s")
    put("jvm.gc_s", res["gc_s"], "s")
    gen_ops = [(o["due"], o["start"], o["end"]) for o in res["ops"] if o["kind"] in ("publish", "lookup")]
    put("loadgen.late_p95_ms", stats.tail(stats.open_loop(gen_ops)[1])[0], "ms")
    put("host.noise_probe_s", stats.median(res["noise_probe_s"]), "s")
    prim = lambda phase: stats.median([(o["end"] - o["due"]) / 1e6 for o in res["ops"]
                                       if o["phase"] == phase and o["kind"] == PRIMARY[workload]])
    put("trace.overhead_ratio", prim("traced") / prim("plain") if prim("plain") else 0.0, "ratio")
    # the named end-to-end figures of each workload, from the untraced half
    plain = lambda kind: [(o["end"] - o["due"]) / 1e6 for o in res["ops"] if o["phase"] == "plain" and o["kind"] == kind]
    put("e2e.pipeline_s", stats.median(plain("pass")) / 1e3, "s")
    for kind in ("publish", "visible", "lookup"):
        put(f"e2e.{kind}_p50_ms", stats.median(plain(kind)), "ms")
        put(f"e2e.{kind}_p95_ms", stats.tail(plain(kind))[0], "ms")
    attempted, failed = counts(res)
    put("e2e.error_rate", failed / attempted, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    built = build.build()
    t_start = time.time()
    # the last run directory stays (result.json holds every operation and
    # span); the next run of the workload clears it
    run_dir = os.path.join(build.build_dir(), f"run-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # inputs, twice: the same seed must give byte-identical files
    gen_s = []
    manifests = []
    for copy in ("inputs", "inputs-again"):
        t0 = time.perf_counter()
        manifests.append(gen.generate(a.workload, a.seed, os.path.join(run_dir, copy)))
        gen_s.append(time.perf_counter() - t0)
    same_inputs = manifests[0] == manifests[1]
    shutil.rmtree(os.path.join(run_dir, "inputs-again"))

    out = os.path.join(run_dir, "result.json")
    cmd = (build.java_command(built)
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "graft.e2e.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--inputs", os.path.join(run_dir, "inputs"),
              "--work", os.path.join(run_dir, "work"), "--out", out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=RUN_LIMIT_S - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM did not finish within the run's {RUN_LIMIT_S} s; "
                             f"see {os.path.join(run_dir, 'jvm.log')}")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    with open(out) as f:
        res = json.load(f)

    setup = res["setup"]
    setup_s = stats.median(gen_s) + setup["session_start_s"] + setup["warmup_s"] + setup["prepare_s"]
    if not same_inputs:
        res["checks_failed"] += 1
        res["failures"].append("the same seed generated different input bytes")
    res["checks"] += 1
    metrics = per_layer(res, a.workload, setup) if a.trace else end_to_end(res, a.workload, setup_s)
    attempted, failed = counts(res)
    for f in res["failures"][:20]:
        sys.stderr.write(f"FAILED: {f}\n")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
