"""One measured run: a fresh-process Spark job, the way ``spark-submit`` runs.

run.py spawns this file once per run. It starts the session and opens the
inputs, then builds the ER pipeline cold into a fresh checkpoint dir and
resumes over that committed dir: once (five times in a traced run), and
again while the run's measuring time (``--seconds``, counted from the cold
build) lasts.

A traced run (``--trace 1``) then rebuilds warm into a second fresh dir,
passes the 16 ``bench.BENCH_QUERIES`` once over the ops tables, detaches
the Spark event log and rebuilds warm once more: the untraced reference for
the tracing overhead.

Only public entry points are called. Output checks (assignment equality,
the F1 floor, the DuckDB oracles) run outside the timed calls. Spans are
kept in memory and written with the results to ``<run-dir>/result.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import pathlib
import random
import sys
import time
import traceback

F1_FLOOR = 0.99  # BASELINE.json: pairwise F1 >= 0.99 on the test split

class Spans:
    """(name, start, end, parent, run id) records, kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []

    @contextlib.contextmanager
    def __call__(self, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            self.rows.append(
                {"name": name, "start": start, "end": time.time(),
                 "parent": parent, "run": self.run_id}
            )


def oracle_mismatch(got, want) -> str | None:
    """scripts/check_oracles.py's exact comparison: None if equal."""
    import numpy as np
    from scripts.check_oracles import normalize

    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"schema {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, o = got[c], want[c]
        if a.dtype == np.float64:
            same = np.allclose(a, o, rtol=0, atol=0, equal_nan=True)
        else:
            same = a.equals(o)
        if not same:
            return f"values differ in {c}"
    return None


def manifests(ckpt: str) -> list[dict]:
    """Per-stage window, files and bytes from the committed manifests."""
    out = []
    for p in sorted(pathlib.Path(ckpt).glob("*.manifest.json")):
        m = json.loads(p.read_text())
        out.append({
            "stage": p.name[: -len(".manifest.json")],
            "wall_sec": m["wall_sec"],
            "committed_at": m["committed_at"],
            "files": len(m["partitions"]),
            "bytes": sum(f["bytes"] for f in m["partitions"]),
        })
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--er-data", required=True)
    ap.add_argument("--ops-data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    a = ap.parse_args()

    run_dir = pathlib.Path(a.run_dir)
    spans = Spans(run_dir.name)
    out: dict = {"runs": [], "failures": []}

    def fail(op: str, why: str) -> None:
        out["failures"].append({"op": op, "detail": why})

    try:
        with spans("job"):
            run_job(a, run_dir, spans, out, fail)
    except Exception:
        fail("job", traceback.format_exc(limit=8))
    out["spans"] = spans.rows
    (run_dir / "result.json").write_text(json.dumps(out, default=str))
    return 0


def run_job(a, run_dir, spans, out, fail) -> None:
    from belb_spark.pipeline import run_pipeline
    from belb_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    if a.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with spans("setup", "job"):
        spark = get_spark("perfbench", master="local[4]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        er_in = [
            spark.read.parquet(f"{a.er_data}/{t}.parquet")
            for t in ("repos", "synonym_dict", "labeled_pairs")
        ]
    out["setup_s"] = time.time() - a.spawned_at
    out["java_version"] = spark._jvm.System.getProperty("java.version")
    sc = spark.sparkContext

    def er_run(label: str, ckpt: str, traced: bool = True):
        if traced:
            sc.setJobGroup(f"er:{label}", label)
        start = time.time()
        with spans(f"er:{label}", "job"):
            res = run_pipeline(spark, *er_in, checkpoint_dir=ckpt)
        wall = time.time() - start
        # untimed from here: collect the returned assignment for the checks
        assign = res.assignment.toPandas().sort_values("uid", ignore_index=True)
        m = res.metrics
        out["runs"].append({
            "label": label,
            "start": start,
            "wall": wall,
            "resumed": all(s["resumed"] for s in res.stages),
            "metrics": {k: v for k, v in m.items() if not isinstance(v, dict)},
            "test": m.get("eval", {}).get("test", {}),
            "stages": manifests(ckpt),
        })
        f1 = out["runs"][-1]["test"].get("f1")
        if f1 is None or f1 < F1_FLOOR:
            fail(f"er:{label}", f"test F1 {f1} below floor {F1_FLOOR}")
        return assign

    t_measure = time.time()
    ckpt_cold = str(run_dir / "ckpt_cold")
    built = er_run("cold", ckpt_cold)
    n, min_resumes = 0, 5 if a.trace else 1
    while n < min_resumes or time.time() - t_measure < a.seconds:
        n += 1
        resumed = er_run(f"resume{n}", ckpt_cold)
        if not out["runs"][-1]["resumed"]:
            fail(f"er:resume{n}", "a stage was rebuilt instead of read back")
        if not resumed.equals(built):
            fail(f"er:resume{n}", "resumed (uid, cluster) differs from the build")

    if a.trace:
        warm = er_run("warm", str(run_dir / "ckpt_warm"))
        if not warm.equals(built):
            fail("er:warm", "rebuilt (uid, cluster) differs from the cold build")
        run_ops(a, spark, spans, out, fail)
        # the untraced reference: the same warm rebuild, event log detached
        jsc = sc._jsc.sc()
        jsc.listenerBus().removeListener(jsc.eventLogger().get())
        er_run("reference", str(run_dir / "ckpt_reference"), traced=False)
    spark.stop()
    # the JVM exits on stdin EOF; reap it here so that it ends before us
    jvm = type(sc)._gateway.proc
    jvm.stdin.close()
    jvm.wait(timeout=30)


def run_ops(a, spark, spans, out, fail) -> None:
    import duckdb

    import __spark_entry__ as entry
    from bench import BENCH_QUERIES
    from scripts.check_oracles import TABLES

    queries = entry.queries()
    order = list(BENCH_QUERIES)
    random.Random(a.seed).shuffle(order)
    got = {}
    with spans("ops", "job"):
        for name in order:
            spark.sparkContext.setJobGroup(f"q:{name}", name)
            with spans(f"q:{name}", "ops"):
                with spans(f"q:{name}:build", f"q:{name}"):
                    df = queries[name](spark, a.ops_data)
                got[name] = df.toPandas()
            spark.catalog.clearCache()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{a.ops_data}/{t}.parquet'")
    oracles = entry.oracle_sql()
    for name in order:
        why = oracle_mismatch(got[name], con.sql(oracles[name]).df())
        if why:
            fail(f"q:{name}", why)


if __name__ == "__main__":
    sys.exit(main())
