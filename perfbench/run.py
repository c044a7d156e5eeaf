#!/usr/bin/env python3
"""The repo benchmark: the nightly region pipeline, end to end and by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program
(src/main/scala) together with the harness (perfbench/src) with the
Scala compiler of the Spark distribution ($SPARK_HOME, else /opt/spark)
into .bench_build/, and caches generated inputs there per (workload,
seed). The last stdout line is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics, or with --trace 1 the
per-layer ones). Exits non-zero when any output check fails.
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

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")

# The pivot's width is |metrics| x 19 years; these four carry the bubble
# layer (tr, efr, er) and the choropleth attributes (p, tr, efr, er).
METRICS = ["population", "threatened_rate", "filing_rate", "judgement_rate"]

WORKLOADS = {
    # counties zooms (z0-7) over a quarter of the continental-US bbox
    "region-full": dict(region="counties", cells=800, width=5,
                        bbox=(-104.0, 31.0, -80.0, 43.0)),
    # block-groups zooms (z0-10 bubble, z8-10 choropleth) over a
    # state-sized bbox, so a delta's contributors stay local
    "nightly-delta": dict(region="block-groups", cells=600, width=12,
                          bbox=(-92.0, 37.0, -88.0, 40.0)),
}
DELTA_SHARE = 0.01
LAYERS = ["sources", "shape", "extents", "geometry", "tilebuild.bubble",
          "tilebuild.choropleth", "sink.pbf", "sink.mbtiles", "incremental"]
LAYER_EXTRAS = ["sources.long_csv_scans", "sources.input_bytes",
                "tilebuild.bubble.max_tile_bytes",
                "tilebuild.choropleth.max_tile_bytes", "sink.pbf.files",
                "incremental.changed_geoids", "incremental.contributors",
                "incremental.useful_ratio", "incremental.affected_tiles",
                "incremental.affected_ratio"]
END_TO_END = {"wall_s": "s", "setup_s": "s", "cpu_s": "s",
              "output_bytes": "bytes", "tiles_written": "count"}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not prog or not own:
        raise SystemExit("perfbench: program sources (src/main/scala) not found; "
                         "run from the repository root")
    return prog + own


def build():
    """Compile once per source state; returns the classpath."""
    srcs = sources()
    jars = os.path.join(SPARK_HOME, "jars")
    h = hashlib.sha256()
    for p in srcs:
        with open(p, "rb") as f:
            h.update(p.encode() + hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_path = os.path.join(BUILD, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return cp
    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.*.jar" % n))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit("perfbench: no Scala compiler under %s" % jars)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log("compiling %d sources" % len(srcs))
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp",
                    os.pathsep.join(c[0] for c in compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-classpath",
                    os.path.join(jars, "*"), "-d", tmp] + srcs,
                   check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp


def java(cp, work, **kv):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    # no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData"] + opens +
           ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-cp", cp, "graft.perfbench.Harness"] +
           ["%s=%s" % kv_ for kv_ in kv.items()] + ["work=" + work, "result=" + result])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        proc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                              env=env, cwd=work)
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit("perfbench: harness exited with %d" % proc.returncode)
    with open(result) as f:
        return json.load(f)


def done(path):
    return os.path.exists(os.path.join(path, ".done"))


def mark(path):
    open(os.path.join(path, ".done"), "w").close()


def inputs(cp, name, seed):
    """Generate (or reuse) the inputs of one (workload, seed)."""
    w = WORKLOADS[name]
    base = os.path.join(BUILD, "inputs", name)
    d = os.path.join(base, "seed-%d" % seed)
    if name == "region-full":
        if not done(d):
            os.makedirs(d, exist_ok=True)
            gen.write_long_csv(os.path.join(d, "long.csv"), w["cells"], w["width"],
                               seed, METRICS)
            gen.write_geojson(os.path.join(d, "geo.geojson"), w["cells"], w["width"],
                              w["bbox"])
            mark(d)
        return dict(csv=os.path.join(d, "long.csv"), geo=os.path.join(d, "geo.geojson"))
    # nightly-delta: one base snapshot and tree, a seeded new snapshot
    b = os.path.join(base, "base")
    args = dict(csv=os.path.join(b, "long.csv"), geo=os.path.join(b, "geo.geojson"),
                base=os.path.join(b, "tree"))
    if not done(b):
        shutil.rmtree(b, ignore_errors=True)
        os.makedirs(b)
        gen.write_long_csv(args["csv"], w["cells"], w["width"], 0, METRICS)
        gen.write_geojson(args["geo"], w["cells"], w["width"], w["bbox"])
        log("building the base tree")
        java(cp, make_work(name + "-prepare"), mode="prepare", region=w["region"],
             metrics=",".join(METRICS), csv=args["csv"], geo=args["geo"],
             dest=args["base"])
        mark(b)
    delta = gen.delta_cells(w["cells"], DELTA_SHARE)
    if not done(d):
        os.makedirs(d, exist_ok=True)
        gen.write_long_csv(os.path.join(d, "new.csv"), w["cells"], w["width"], 0,
                           METRICS, bumped=delta, bump_seed=seed)
        mark(d)
    args.update(newCsv=os.path.join(d, "new.csv"), ref=os.path.join(d, "ref"))
    return args


def make_work(name):
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def run_checks(name, seed, a, passes, work):
    """Every output check of the workload; returns (attempted, failures)."""
    w = WORKLOADS[name]
    region = w["region"]
    fails = {}
    seed_dir = os.path.join(BUILD, "inputs", name, "seed-%d" % seed)
    if name == "region-full":
        out = os.path.join(work, "out")
        cells = check.read_long(a["csv"])
        fails["wide"] = check.check_wide(os.path.join(out, region + ".wide"),
                                         cells, METRICS, seed)
        fails["extents"] = check.check_extents(os.path.join(out, region + ".extents"),
                                               cells, METRICS)
        fails["mbtiles"] = check.check_mbtiles(os.path.join(out, "tiles"), region)
        fails["digest"] = check.check_digest(
            check.tree_digest(os.path.join(out, "tiles", region)),
            os.path.join(seed_dir, "digest"))
    else:
        live = os.path.join(work, "live", region)
        ref = os.path.join(a["ref"], region)
        fails["parity"] = ([] if check.tree_digest(live) == check.tree_digest(ref)
                           else ["in-place tree differs from the full rebuild"])
        want = len(gen.delta_cells(w["cells"], DELTA_SHARE))
        fails["delta"] = ["delta pass changed %s GEOIDs (full rebuild: %s), "
                          "expected %d" % (p["changed_geoids"], p["full_rebuild"], want)
                          for p in passes
                          if p["changed_geoids"] != want or p["full_rebuild"]]
        fails["digest"] = check.check_digest(check.tree_digest(live),
                                             os.path.join(seed_dir, "digest"))
    for k, v in fails.items():
        for msg in v:
            log("check %s FAILED: %s" % (k, msg))
    return len(fails), sum(1 for v in fails.values() if v)


def end_to_end(runs):
    passes = [r["pass"] for r in runs]
    m = {k: statistics.median([p[k] for p in passes]) for k in
         ("wall_s", "cpu_s", "output_bytes", "tiles_written")}
    m["setup_s"] = statistics.median([s for r in runs for s in r["setup_s"]])
    tail = stats.tail_percentile([p["wall_s"] for p in passes])
    log("wall_s: median %.3f over %d passes; tail %s" % (
        m["wall_s"], len(passes),
        "p%d = %.3f" % tail if tail else "n/a (fewer than 11 passes)"))
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(res):
    layers = stats.attribute(res["events"], LAYERS + ["root"])
    m = {}
    for layer in LAYERS:
        for c in stats.LAYER_COUNTERS:
            m["%s.%s" % (layer, c)] = (layers[layer][c], "ms" if c.endswith("_ms")
                                       else "bytes" if c.endswith("bytes") else "count")
    root = layers["root"]
    extras = dict.fromkeys(LAYER_EXTRAS, 0)
    extras.update(res["extras"])
    extras["sources.long_csv_scans"] = root["long_csv_scans"]
    extras["sources.input_bytes"] = root["input_bytes"]
    for k in LAYER_EXTRAS:
        m[k] = (extras[k], "ratio" if k.endswith("ratio") else
                "bytes" if k.endswith("bytes") else "count")
    m["trace.root_wall_ms"] = (res["root"]["wall_s"] * 1000, "ms")
    untraced = statistics.median([p["wall_s"] for p in res["untraced"]])
    m["trace.overhead_ms"] = ((res["root"]["wall_s"] - untraced) * 1000, "ms")
    m["cold_pass_ms"] = (res["pass"]["wall_s"] * 1000, "ms")
    m["peak_heap_mb"] = (res["pass"]["peak_heap_mb"], "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so subprocess.run kills and reaps the harness JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    a = inputs(cp, args.workload, args.seed)
    work = make_work(args.workload)
    w = WORKLOADS[args.workload]
    # fresh processes, one cold pass each, until `seconds` of passes
    runs, kv = [], dict(a)
    while not runs or (not args.trace and
                       sum(r["pass"]["wall_s"] for r in runs) < args.seconds):
        t0 = time.time()
        runs.append(java(cp, work, mode="run", workload=args.workload,
                         region=w["region"], metrics=",".join(METRICS),
                         trace=args.trace, **kv))
        kv.pop("ref", None)   # the parity reference is made once
        log("pass %d: harness done in %.1f s" % (len(runs), time.time() - t0))
    checks, failed = run_checks(args.workload, args.seed, a,
                                [r["pass"] for r in runs], work)
    attempted = len(runs) + checks
    log("failed_ratio = %.3f" % stats.failed_ratio(attempted, failed))
    metrics = per_layer(runs[0]) if args.trace else end_to_end(runs)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
