#!/usr/bin/env python3
"""ER benchmark: set-up, cold-build and resume walls of belb_spark jobs.

Run from the root of a checkout:

    python3 perfbench/run.py --workload er_dense --seed 1 --seconds 20 --trace 0

Each run spawns perfbench/job.py as a fresh process (a one-shot Spark job)
with its own temp dirs under ``.perfbench/runs/``, samples that process
tree from /proc, checks the outputs and prints every metric declared in
BENCHMARK.json: the end-to-end ones with ``--trace 0``, the per-layer ones
with ``--trace 1``. The last stdout line is the JSON result. See
perfbench/README.md for the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import hashlib
import importlib.metadata
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

import eventlog
import proctree

HERE = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
WORK = ROOT / ".perfbench"
OPS_DATA = HERE / "data" / "sf0.001"
JOB_TIMEOUT_S = 170

ER_LAYERS = {
    "01_normalize": "normalize",
    "02_blocks": "blocking",
    "03_candidates": "pairs",
    "04_scores": "scoring",
    "05_clusters": "clustering",
}
# the operator module each bench query exercises (layer names for the trace)
QUERY_MODULE = {
    "dedup_minhash_lsh_pairs": "dedup",
    "dedup_ngram_jaccard_pairs": "dedup",
    "er_cc_clusters": "dedup",
    "dedup_simhash": "dedup",
    "ann_cosine_topk": "similarity",
    "ann_srp_buckets": "similarity",
    "ann_srp_topk": "similarity",
    "ann_ivf_topk": "similarity",
    "dedup_embedding_cosine": "similarity",
    "text_fingerprint": "text",
    "spans_sentences": "spans",
    "events_overlap_join": "temporal",
    "tpch_q1_agg": "relational",
    "join_star_revenue": "relational",
    "window_running_total": "relational",
    "events_hourly_window": "relational",
}
# datagen.GenConfig overrides per workload; the seed is the run's --seed.
# Sizes keep one untraced run near 45 s on 4 cores; er_dense has enough
# entities that its pair count (a sum of squared member counts) varies by
# only a few percent from seed to seed.
WORKLOADS = {
    # pair-heavy: max block > the anchor cap (full_join_max=64), ~25x the
    # candidates of er_sparse at a similar row count
    "er_dense": dict(n_entities=250, n_distractors=250, n_hot=0, max_members=48),
    # row-heavy: every block < 64, so every block takes the full-join path
    "er_sparse": dict(n_entities=4000, n_distractors=0, n_hot=0, max_members=2),
}


def er_data(workload: str, seed: int, smoke: bool) -> pathlib.Path:
    """Generated ER inputs, cached per (config, seed, DATAGEN_VERSION)."""
    from belb_spark import datagen

    base = datagen.TINY if smoke else datagen.GenConfig(**WORKLOADS[workload])
    cfg = dataclasses.replace(base, seed=seed)
    key = hashlib.sha1(f"{cfg!r}/v{datagen.DATAGEN_VERSION}".encode()).hexdigest()
    out = WORK / "cache" / f"{workload}-{seed}-{key[:12]}"
    if not (out / "repos.parquet").exists():
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        datagen.generate_and_save(str(tmp), cfg)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return out


def stop_all(pids: list[int]) -> None:
    """Terminate every process the job started and wait until each ended.
    (The Python worker daemon leaves the job's process group, so the pids
    come from the sampler.)"""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in filter(proctree.alive, pids):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.time() + 10
        while any(map(proctree.alive, pids)) and time.time() < deadline:
            time.sleep(0.1)


def spawn_job(args, data: pathlib.Path, run_dir: pathlib.Path):
    """Run job.py once; returns (result dict, sampler, host-noise record)."""
    for d in ("local", "tmp", "eventlog"):
        (run_dir / d).mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("BELB_")}
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(run_dir / "tmp"),
        # every JVM the job starts (the launcher too) keeps its temp files
        # in the run dir; perf data would otherwise go to /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
    )
    steal0, total0 = proctree.host_jiffies()
    load0 = os.getloadavg()[0]
    spawned = time.time()
    with open(run_dir / "job.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "job.py"), "--run-dir", str(run_dir),
             "--er-data", str(data), "--ops-data", str(OPS_DATA),
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--spawned-at", repr(spawned)],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = proctree.TreeSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=JOB_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.stop()
            stop_all([proc.pid, *proctree.tree(proc.pid), *sampler.last_cpu])
            proc.wait()
    steal1, total1 = proctree.host_jiffies()
    noise = {
        "steal_pct": round(100 * (steal1 - steal0) / max(1, total1 - total0), 2),
        "loadavg": [round(load0, 2), round(os.getloadavg()[0], 2)],
    }
    result_file = run_dir / "result.json"
    if not result_file.exists():
        tail = (run_dir / "job.log").read_text()[-3000:]
        res = {"runs": [], "spans": [],
               "failures": [{"op": "job", "detail": "no result; log tail:\n" + tail}]}
    else:
        res = json.loads(result_file.read_text())
    return res, sampler, noise


def end_to_end(res: dict, sampler, data: pathlib.Path) -> dict:
    cold = res["runs"][0]
    m, test = cold["metrics"], cold["test"]
    ckpt_bytes = sum(s["bytes"] for s in cold["stages"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_wall_s": (cold["wall"], "s"),
        "pairs_per_s": ((m["pairs_scored"] + m["exact_dup_edges"]) / cold["wall"], "1/s"),
        "test_precision": (test["precision"], "ratio"),
        "test_recall": (test["recall"], "ratio"),
        "test_f1": (test["f1"], "ratio"),
        "cpu_s": (sampler.cpu_s, "s"),
        "ckpt_write_amp": (ckpt_bytes / (data / "repos.parquet").stat().st_size, "ratio"),
    }


def per_layer(res: dict, sampler, run_dir: pathlib.Path) -> dict:
    runs = {r["label"]: r for r in res["runs"]}
    cold, warm, ref = runs["cold"], runs["warm"], runs["reference"]
    m = cold["metrics"]
    out = {"session.start_s": (res["setup_s"], "s")}
    for kind, run in (("cold", cold), ("warm", warm)):
        for s in run["stages"]:
            out[f"{ER_LAYERS[s['stage']]}.{kind}_s"] = (s["wall_sec"], "s")
        staged = sum(s["wall_sec"] for s in run["stages"])
        out[f"pipeline.other_{kind}_s"] = (run["wall"] - staged, "s")
    emitted, candidates = m["pairs_capped_estimate"], m["candidate_pairs"]
    out.update({
        "blocking.rows": (m["block_rows"], "count"),
        "pairs.theoretical": (m["pairs_theoretical"], "count"),
        "pairs.emitted": (emitted, "count"),
        "pairs.candidates": (candidates, "count"),
        "pairs.max_block": (m["max_block_size"], "count"),
        "pairs.useful_ratio": (candidates / emitted, "ratio"),
        "scoring.pairs_scored": (m["pairs_scored"], "count"),
        "scoring.scored_ratio": (m["pairs_scored"] / candidates, "ratio"),
        "scoring.pairs_per_s": (m["pairs_scored"] / out["scoring.warm_s"][0], "1/s"),
        "checkpoint.bytes": (sum(s["bytes"] for s in cold["stages"]), "B"),
        "checkpoint.files": (sum(s["files"] for s in cold["stages"]), "count"),
        "checkpoint.resume_s": (
            statistics.median(
                r["wall"] for r in res["runs"] if r["label"].startswith("resume")
            ),
            "s",
        ),
        "trace.overhead_s": (warm["wall"] - ref["wall"], "s"),
    })
    windows: dict[str, list[tuple[float, float]]] = {}
    for s in warm["stages"]:
        end = s["committed_at"]
        windows[ER_LAYERS[s["stage"]]] = [(end - s["wall_sec"], end)]
    spans = {s["name"]: s for s in res["spans"]}
    for name, module in QUERY_MODULE.items():
        q, build = spans[f"q:{name}"], spans[f"q:{name}:build"]
        out[f"q.{name}.build_s"] = (build["end"] - build["start"], "s")
        out[f"q.{name}.warm_s"] = (q["end"] - q["start"], "s")
        windows.setdefault(module, []).append((q["start"], q["end"]))
    (log,) = (run_dir / "eventlog").iterdir()
    for layer, agg in eventlog.per_layer(str(log), windows).items():
        out[f"{layer}.executor_cpu_s"] = (agg["executor_cpu_s"], "s")
        out[f"{layer}.shuffle_write_bytes"] = (agg["shuffle_write_bytes"], "B")
        out[f"{layer}.task_skew"] = (agg["task_skew"], "ratio")
        out[f"{layer}.pyworker_cpu_s"] = (
            sum(
                sampler.pyworker_cpu_at(b) - sampler.pyworker_cpu_at(a)
                for a, b in windows[layer]
            ),
            "s",
        )
    return out


def source_sha() -> str:
    """Content hash of the program sources (the checkout has no git)."""
    h = hashlib.sha1()
    for p in sorted([ROOT / "__spark_entry__.py", *ROOT.glob("belb_spark/**/*.py")]):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring time: resumes repeat until it is used")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="datagen TINY inputs: every path, in about a minute")
    args = ap.parse_args()
    # a terminated benchmark still stops its job and removes its temp dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "belb_spark" / "pipeline.py").is_file():
        print("perfbench: belb_spark/ not found; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {d["name"]: d["unit"]
                for d in declared["per_layer" if args.trace else "end_to_end"]}

    data = er_data(args.workload, args.seed, args.smoke)
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res, sampler, noise = spawn_job(args, data, run_dir)
        failures = res["failures"]
        crashed = any(f["op"] == "job" for f in failures)
        for f in failures:
            print(f"FAILED {f['op']}: {f['detail']}", file=sys.stderr)
        print(json.dumps({"meta": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "smoke": args.smoke, **noise,
            "peak_mem_mb": round(sampler.peak_mem / 2**20, 1),
            "nproc": os.cpu_count(), "source_sha": source_sha(),
            "python": sys.version.split()[0],
            "pyspark": importlib.metadata.version("pyspark"),
            "java": res.get("java_version"),
            "rows_in": next(iter(res["runs"]), {}).get("metrics", {}).get("rows_in"),
            # the benchmark's own CPU (sampler and checks), not part of cpu_s
            "bench_cpu_s": round(sum(os.times()[:2]), 2),
        }}))
        if args.trace:
            print(json.dumps({"spans": res["spans"]}))
        if crashed:
            return 1
        measured = (
            per_layer(res, sampler, run_dir) if args.trace
            else end_to_end(res, sampler, data)
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # BENCHMARK.json picks what is reported: the trace computes a few layer
    # figures that read 0 or 1 by construction at these sizes
    missing = [n for n, u in declared.items() if measured.get(n, (0, None))[1] != u]
    if missing:
        print(f"perfbench: declared metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {}
    for name, unit in declared.items():
        metrics[name] = {"value": measured[name][0], "unit": unit}
        print(f"{name:40s} {measured[name][0]:14.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(res["runs"])
        + sum(s["parent"] == "ops" for s in res["spans"]),
        "failed": len({f["op"] for f in failures}),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
