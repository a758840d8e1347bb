#!/usr/bin/env python3
"""graft benchmark: one command, one closed-loop client on a local[4] session.

    python3 benchmark/run.py --workload interactive|analytic|pipelines \
        --seed N --seconds S --trace 0|1

Run from the repository root.  The first run builds graft and the
graftbench program (benchmark/build.sbt, offline sbt) into benchmark/target
and records the classpath under .bench_build/; later runs reuse it while the
sources are unchanged.  Inputs are generated from the seed (gen.py) into
.bench_build/data/.  The JVM side (graftbench.Main) sets up, runs an untimed
check pass and then timed passes; this script checks every output (DuckDB
oracles for queries, manifest expectations for the pipelines), prints each
metric by name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (spans land in the run directory's spans.json).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175

WORKLOADS = {
    # 16 floor-dominated queries over sf0.01 tables (~2 MB)
    "interactive": {"sf": 0.01, "tables": gen.TABLES},
    # 7 execution-heavy queries over sf0.01 tables (~2 MB)
    "analytic": {"sf": 0.01, "tables": gen.TABLES},
    # GeoJSON ETL + sinks + connector viewer queries over 16 documents
    # (1,104 features), then curation of a sf0.05 corpus (2,500 documents)
    "pipelines": {"sf": 0.05, "tables": ["documents"], "docs_per_shape": 4,
                  "feats_per_doc": 100},
}

END_TO_END = [("setup_s", "s"), ("suite_s", "s"), ("query_p50_ms", "ms"),
              ("query_p75_ms", "ms"), ("query_geomean_ms", "ms")]
MODULES = ["Aggregates", "Analytics", "Behavior", "Dedup", "Graph", "Multimodal",
           "Pq", "Relational", "Routes", "Sampling", "Similarity", "Skew",
           "TextAnalysis", "Tpch"]
PER_LAYER = ([("construct.ms", "ms"), ("construct.jobs", "count"),
              ("Warehouse.build_ms", "ms"), ("plan.analysis_ms", "ms"),
              ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
              ("sched.jobs", "count"), ("sched.stages", "count"),
              ("sched.tasks", "count"), ("sched.delay_ms", "ms"),
              ("exec.ms", "ms"), ("exec.task_cpu_ms", "ms"),
              ("exec.core_util", "ratio"), ("exec.shuffle_read_bytes", "bytes"),
              ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
              ("jvm.gc_ms", "ms")]
             + [(f"operators.{m}.ms", "ms") for m in MODULES]
             + [("sources.read_ms", "ms"), ("sources.docs_fetched_ratio", "ratio"),
                ("sources.features_per_s", "1/s"), ("sinks.geojson.write_ms", "ms"),
                ("sinks.csv.write_ms", "ms"), ("sinks.batched.write_ms", "ms"),
                ("sinks.bytes_out_per_byte_in", "ratio"), ("curate.jobs", "count"),
                ("curate.checkpoint_bytes", "bytes"), ("curate.kept_ratio", "ratio"),
                ("etl.features_per_s", "1/s"), ("curate.docs_per_s", "1/s"),
                ("trace.suite_s", "s")])

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                 os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft + graftbench once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = next((l.strip() for l in reversed(lines)
               if "scala-2.13/classes" in l and not l.startswith("[")), None)
    if p.returncode != 0 or cp is None:
        die(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ inputs

def inputs(workload, seed):
    """Generate (once per seed) the workload's inputs; returns (dir, manifest)."""
    spec = WORKLOADS[workload]
    d = os.path.join(BUILD, "data", f"{workload}-{seed}")
    done = os.path.join(d, "manifest.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        sizes = gen.write_tables(seed, spec["sf"], d, spec["tables"])
        manifest = {"table_bytes": sizes}
        if workload == "pipelines":
            manifest.update(gen.geojson(seed, os.path.join(d, "geo"),
                                        spec["docs_per_shape"], spec["feats_per_doc"]))
        with open(done + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        return d, json.load(f)


# ------------------------------------------------------------------ checks

def check_queries(data_dir, run_dir, names):
    """DuckDB oracle compare of every dumped query result; returns mismatches."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def tclass(t):
        t = str(t).upper()
        if t.startswith("DECIMAL"):
            return "decimal"
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                 "USMALLINT", "UINTEGER", "UBIGINT"):
            return "int"
        if t in ("FLOAT", "DOUBLE", "REAL"):
            return "float"
        return t

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    bad = []
    for name in names:
        path = os.path.join(run_dir, "results", name)
        try:
            got_rel = con.sql(f"SELECT * FROM parquet_scan('{path}/*.parquet')")
            want_rel = con.sql(oracles[name])
            gt = {c: tclass(t) for c, t in zip(got_rel.columns, got_rel.types)}
            wt = {c: tclass(t) for c, t in zip(want_rel.columns, want_rel.types)}
            g, w = norm(got_rel.df()), norm(want_rel.df())
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"))
            continue
        numeric = {"int", "float", "decimal"}
        if list(g.columns) != list(w.columns):
            bad.append((name, f"columns {list(g.columns)} != {list(w.columns)}"))
        elif len(g) != len(w):
            bad.append((name, f"rows {len(g)} != {len(w)}"))
        elif any(gt[c] != wt.get(c) and (gt[c] in numeric or wt.get(c) in numeric) for c in gt):
            bad.append((name, f"numeric type class {gt} != {wt}"))
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
            except AssertionError as e:
                bad.append((name, "values differ: " + " ".join(str(e).split())[:200]))
    return bad


def read_sinks(run_dir):
    """Re-read the check pass's sink output: rows per sink, CSV lat/lon."""
    import csv
    import glob
    import pyarrow.parquet as pq
    sinks = os.path.join(run_dir, "check-sinks")
    got = {}
    for shape in ["fc", "feature", "list"]:
        base = os.path.join(sinks, f"routes_20240601_{shape}")
        lines = 0
        for part in glob.glob(os.path.join(base + ".geojson", "part-*")):
            with open(part) as f:
                lines += sum(1 for l in f if json.loads(l)["type"] == "Feature")
        got[f"etl.{shape}.geojson_rows"] = lines
        rows = []
        for part in glob.glob(os.path.join(base + ".csv", "part-*")):
            with open(part, newline="") as f:
                rows.extend(csv.DictReader(f))
        got[f"etl.{shape}.csv_rows"] = len(rows)
        if shape == "fc":
            got["csv_latlon"] = {r["route_id"]: (float(r["lat"]), float(r["lon"])) for r in rows}
    parts = glob.glob(os.path.join(sinks, "batched", "*.parquet"))
    got["batched.rows"] = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    got["batched.files"] = len(parts)
    return got


def check_pipelines(manifest, obs, run_dir):
    """Compare the check pass's outputs with the generated inputs."""
    feats = {}
    for doc in manifest["docs"]:
        feats.setdefault(doc["shape"], []).extend(doc["features"])
    every = [f for fs in feats.values() for f in fs]
    got = dict(obs)
    got.update(read_sinks(run_dir))
    exp = {}
    for shape in ["fc", "feature", "list"]:
        exp[f"etl.{shape}.geojson_rows"] = len(feats[shape])
        exp[f"etl.{shape}.csv_rows"] = len(feats[shape])
    exp["batched.rows"] = len(feats["fc"])
    native = {r["route_id"]: (r["lat"], r["lon"]) for r in obs.get("native.fc", [])}
    exp["native.fc.routes"] = len(feats["fc"])
    got["native.fc.routes"] = len(native)
    exp["native.fc.latlon_differs_from_csv"] = 0
    got["native.fc.latlon_differs_from_csv"] = sum(
        1 for k, v in native.items() if got["csv_latlon"].get(k) != v)
    exp["native.rows"] = len(feats["multi"])
    exp["native.null_latlon"] = 0
    exp["viewer.distinct_route_type"] = [
        {"route_type": t} for t in sorted({f["properties"]["route_type"] for f in every}
                                         - {None})]
    edi = sorted((f for f in every if f["properties"]["local_authority"] == "Edinburgh"),
                 key=lambda f: f["properties"]["id"])[:1000]
    exp["viewer.filter_order_limit"] = [
        {"id": f["properties"]["id"], "route_id": f["properties"]["route_id"],
         "geometry_type": f["geometry"]["type"]} for f in edi]

    def points(f):
        c = f["geometry"]["coordinates"]
        return [p for part in c for p in part] if f["geometry"]["type"] == "MultiLineString" else c
    pts = [p for f in every for p in points(f)]
    exp["viewer.bounds"] = [{"minx": min(p[0] for p in pts), "miny": min(p[1] for p in pts),
                             "maxx": max(p[0] for p in pts), "maxy": max(p[1] for p in pts)}]
    by_geom = {}
    for f in every:
        by_geom[f["geometry"]["type"]] = by_geom.get(f["geometry"]["type"], 0) + 1
    exp["viewer.count_by_geometry"] = sorted(
        ({"geometry_type": k, "count": v} for k, v in by_geom.items()),
        key=lambda r: r["geometry_type"])
    pruned = next(d for d in manifest["docs"] if d["file"] == obs["pruned_to"])
    exp["viewer.source_file"] = sorted(f["properties"]["route_id"] for f in pruned["features"])

    for k in ["native.rows", "native.null_latlon"]:
        if k in got:
            got[k] = int(got[k])
    if "viewer.count_by_geometry" in got:
        got["viewer.count_by_geometry"] = sorted(got["viewer.count_by_geometry"],
                                                 key=lambda r: r["geometry_type"])
    if "viewer.source_file" in got:
        got["viewer.source_file"] = sorted(r["route_id"] for r in got["viewer.source_file"])
    bad = [(k, f"got {str(got.get(k))[:120]}, want {str(v)[:120]}")
           for k, v in exp.items() if got.get(k) != v]
    files = got["batched.files"]
    if files < math.ceil(len(feats["fc"]) / 64):
        bad.append(("batched.files", f"{files} files for {len(feats['fc'])} rows in batches of 64"))
    # the check pass's report first, then one per timed pass
    reports = obs.get("curate.reports", [])
    if len(reports) < 2 or any(r != reports[0] for r in reports):
        bad.append(("curate.report", f"reports differ across passes: {reports}"))
    elif int(obs.get("curate.packed_rows", -1)) != reports[0][5]:
        bad.append(("curate.packed_rows", f"{obs.get('curate.packed_rows')} rows packed, "
                    f"{reports[0][5]} documents survived"))
    elif any(b > a for a, b in zip(reports[0][:6], reports[0][1:6])):
        bad.append(("curate.report", f"survivor counts not monotone: {reports[0]}"))
    return bad


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.startswith("_"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("run from the root of a graft checkout (src/main/scala/graft is missing)")
    if shutil.which("java") is None:
        die("java not found on PATH")

    cp = build()
    data_dir, manifest = inputs(a.workload, a.seed)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # Spark's block and shuffle files and the JVM's temp files stay in the run dir
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--data", data_dir,
              "--out", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--seed", str(a.seed)])
    budget = RUN_LIMIT_S - (time.time() - t_start)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(30.0, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"JVM did not finish within {budget:.0f} s (see {run_dir}/jvm.log)", 4)
    if rc != 0:
        die(f"JVM exited with {rc} (see {run_dir}/jvm.log)", 3)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    # ---- correctness, outside every timed region
    names = list(res["modules"])
    if a.workload == "pipelines":
        mismatches = check_pipelines(manifest, res["pipeline"], run_dir)
    else:
        mismatches = check_queries(data_dir, run_dir, names)
    failures = res["failures"]
    failed = len(failures) + len(mismatches)
    attempted = res["attempted"]
    for f in failures:
        print(f"FAILED {f['op']} ({f['phase']}): {f['error']}: {f['message']}")
    for name, why in mismatches:
        print(f"MISMATCH {name}: {why}")

    # ---- end-to-end metrics
    samples = res["samples_ms"]
    if a.workload == "pipelines":
        lat_names = [n for n in samples if n.startswith("viewer.")]
    else:
        lat_names = list(samples)
    pooled = [x for n in lat_names for x in samples[n]]
    medians = [median(samples[n]) for n in lat_names]
    # a pass made of every op's median latency: one slow sample (a GC pause,
    # a noisy neighbour) moves it less than any single pass's wall time
    op_medians = {n: median(v) for n, v in samples.items()}
    e2e = {
        "setup_s": median(res["setup_s"]),
        "suite_s": sum(op_medians.get(op, 0.0) for op in res["pass_ops"]) / 1000.0,
        "query_p50_ms": pct(pooled, 0.5),
        "query_p75_ms": pct(pooled, 0.75),
        "query_geomean_ms": math.exp(sum(math.log(m) for m in medians) / len(medians))
        if medians and all(m > 0 for m in medians) else 0.0,
    }
    extra = {"failed_ratio": (failed / attempted if attempted else 1.0),
             "cold_pass_s": res["cold_pass_s"], "peak_rss_mb": res["peak_rss_mb"],
             "query_p90_ms": pct(pooled, 0.9), "pass_wall_s_median": median(res["pass_s"]),
             "latency_samples": len(pooled), "passes": len(res["pass_s"])}
    layers = dict(res.get("layers", {}))
    if a.workload == "pipelines":
        obs = res["pipeline"]
        etl_feats = sum(len(d["features"]) for d in manifest["docs"] if d["shape"] != "multi")
        etl_ms = sum(median(samples.get(f"etl.{s}", [])) for s in ["fc", "feature", "list"])
        reports = obs.get("curate.reports") or [[0] * 8]
        curate_ms = median(samples.get("curate", []))
        extra["etl_features_per_s"] = etl_feats / etl_ms * 1000 if etl_ms else 0.0
        extra["viewer_p50_ms"] = e2e["query_p50_ms"]
        extra["curate_docs_per_s"] = reports[0][0] / curate_ms * 1000 if curate_ms else 0.0
        in_bytes = sum(dir_bytes(os.path.join(data_dir, "geo", s)) for s in ["fc", "feature", "list"])
        out_bytes = sum(dir_bytes(os.path.join(run_dir, "check-sinks", f"routes_20240601_{s}.{ext}"))
                        for s in ["fc", "feature", "list"] for ext in ["geojson", "csv"])
        layers.update({
            "sources.docs_fetched_ratio": res["fetched_docs"] / res["viewer_doc_reads"]
            if res["viewer_doc_reads"] else 0.0,
            "sinks.bytes_out_per_byte_in": out_bytes / in_bytes if in_bytes else 0.0,
            "curate.kept_ratio": reports[0][5] / reports[0][0] if reports[0][0] else 0.0,
            "etl.features_per_s": extra["etl_features_per_s"],
            "curate.docs_per_s": extra["curate_docs_per_s"]})

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{extra['passes']} timed passes, {extra['latency_samples']} latency samples")
    print("config " + json.dumps(res["config"], sort_keys=True))
    print("inputs " + json.dumps(manifest["table_bytes"], sort_keys=True))
    if a.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END}
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for k, v in extra.items():
        print(f"{k} = {v:.6g}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
