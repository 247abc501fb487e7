#!/usr/bin/env python3
"""Layer benchmark for the graft program.

    python3 layerbench/run.py --workload {ingest,curation} \
        --seed N --seconds S --trace {0,1}

Builds the program and the benchmark's Scala side from source (once per
checkout, into .bench_build/), makes the workload's inputs from the
seed, runs set-up several times in one JVM, repeats the workload's unit
of work untimed until its time levels off, then one closed loop (a
single caller waiting on each call) of as many units as take the given
seconds at a nominal unit time, so the sample count does not depend on
the host's speed. A fixed plain-Spark reference job runs before each
measured unit; the end-to-end call metrics are call times divided by
it, so a slower or busier host moves both alike. Every
output is checked; the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics (from a traced unit of work with
Spark listener counts) with --trace 1. Exits 1 on any wrong result.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
SPARK_JARS = "/opt/spark/jars"
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "layerbench.jar")
# Class-data-sharing archive of the classes a run loads, recorded once
# per build: it cuts the cold JVM's class loading by about half.
CDS = os.path.join(BUILD, "layerbench.jsa")
# Set-up is repeated this many times per run; setup_s is the median.
SETUPS = 3
# Untimed warm-up, per workload: at least `warmMin` units, then until the
# median of the last `warmWindow` unit times is within `warmTol` of the
# window before, at most `warmMax` units. An ingest unit keeps getting
# faster for about 25-30 units (1.1 s -> 0.55 s), so its floor is set
# there; stopping at 16 left each run's median on the slope.
WARMUP = {
    "ingest": {"warmMin": 28, "warmWindow": 4, "warmTol": 0.03, "warmMax": 40},
    "curation": {"warmMin": 16, "warmWindow": 4, "warmTol": 0.03, "warmMax": 30},
}
# Nominal seconds per unit of work (measured warm on a 4-core VM): the
# measured loop runs round(--seconds / this) units.
UNIT_S = {"ingest": 0.55, "curation": 1.0}
# A fixed 1 GiB heap, not pre-touched: a growable one resized itself
# differently from run to run and moved unit times with it. Memory is
# measured as live heap after a full collection, which the heap's size
# does not change. No perf-data file outside the checkout.
JVM_FLAGS = ["-Xms1g", "-Xmx1g", "-XX:-UsePerfData", "-Xss4m"]

INGEST = {"pageSize": 500, "n0": 6000, "delta": 300, "refetches": 2,
          "batchSize": 1000, "live": 3, "dead": 1}

CURATION = {
    "scale": 0.25,
    "producers": ["producer:coarse_centroids"],
    "queries": [
        ("SimSearch", "q_simsearch_ivf"), ("SimSearch", "q_simsearch_native"),
        ("TextAnalysis", "q_fingerprint"), ("Learn", "q_ood_knn"),
    ],
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the program's and the benchmark's
    sources, the build definition, and the JVM settings the
    class-data-sharing archive is recorded with."""
    h = hashlib.sha256()
    files = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, f) for f in names]
    files += [os.path.join(HERE, f) for f in
              ("build.sbt", os.path.join("project", "build.properties"), "run.py", "datagen.py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark unless this checkout's sources
    were already compiled."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"program sources not found at {PROGRAM_SRC}")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
           "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global",
           f"-Dsbt.boot.directory={BUILD}/sbt-boot",
           f"-Dsbt.ivy.home={BUILD}/ivy2",
           f"-Djava.io.tmpdir={BUILD}/tmp", f"-Djna.tmpdir={BUILD}/tmp",
           "-J-XX:-UsePerfData", "compile"]
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed (exit {r.returncode})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    datagen.generate(os.path.join(train, "data"), 0, 1.0)
    if os.path.exists(CDS):
        os.remove(CDS)
    conf = dict(workload_conf(0, os.path.join(train, "data"))[0], mode="train",
                workloads=",".join(w["name"] for w in declared()["workloads"]),
                localDir=os.path.join(train, "spark-local"))
    jvm(conf, train, [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.rmtree(train, ignore_errors=True)
    log(f"[layerbench] built in {time.time() - t0:.1f}s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def declared():
    """The workloads and metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def ingest_params(seed):
    """Roster, poison rule and windows picked by the seed; the live
    account count and window sizes are fixed so every seed does the same
    amount of work."""
    rng = random.Random(seed)
    names = rng.sample(range(100, 1000), INGEST["live"] + INGEST["dead"])
    live = [f"acct{n}" for n in names[:INGEST["live"]]]
    roster = [(a, rng.choice(["valid", "expired_refresh"])) for a in live]
    roster += [(f"acct{n}", "expired_dead") for n in names[INGEST["live"]:]]
    rng.shuffle(roster)
    every = rng.choice([89, 97, 101])
    return {
        "ingest.pageSize": INGEST["pageSize"],
        "ingest.n0": INGEST["n0"] + rng.randrange(INGEST["delta"]),
        "ingest.delta": INGEST["delta"],
        "ingest.refetches": INGEST["refetches"],
        "ingest.errorEvery": every,
        "ingest.errorOffset": rng.randrange(every),
        "ingest.tokens": ",".join(f"{a}:{s}" for a, s in roster),
    }, [a for a, s in roster if s != "expired_dead"]


def workload_conf(seed, data):
    """Benchmark settings for every workload; the ingest roster and windows
    come from the seed."""
    conf, live = ingest_params(seed)
    conf.update({
        "seed": seed, "data": data, "runId": f"r{seed}",
        "curation.queries": ",".join(f"{m}:{q}" for m, q in CURATION["queries"]),
        "curation.producers": ",".join(CURATION["producers"]),
    })
    return conf, live


def jvm(conf, work, cds=None):
    args = ["java"] + JVM_FLAGS + [
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    args += cds if cds is not None else [f"-XX:SharedArchiveFile={CDS}"]
    for p in JVM_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args += ["-cp", f"{JAR}:{SPARK_JARS}/*", "layerbench.Main"]
    args += [f"{k}={v}" for k, v in conf.items()]
    r = subprocess.run(args, cwd=work, stdout=sys.stderr, stderr=sys.stderr, timeout=170)
    if r.returncode != 0:
        raise RuntimeError(f"benchmark process exited {r.returncode}")
    if "out" in conf:
        with open(conf["out"]) as fh:
            return json.load(fh)


def check_ingest(ops, live, params):
    """Failed fetches: each fetch's landed rows must equal the closed form."""
    failed, cache = 0, {}
    every, off = params["ingest.errorEvery"], params["ingest.errorOffset"]
    for op in ops:
        if not op["ok"]:
            failed += 1
            continue
        if op["kind"] == "probe":
            continue
        key = (int(op["extra"]["lo"]), int(op["extra"]["n"]))
        if key not in cache:
            cache[key] = "%d:%d" % stats.expected_landed(live, key[0], key[1], every, off)
        if op["digest"] != cache[key]:
            log(f"[layerbench] {op['name']}: landed {op['digest']} expected {cache[key]}")
            failed += 1
    return failed


def check_queries(ops, oracles, data_dir, oracle_dir):
    """Failed queries: a row whose oracle disagrees, or whose digest differs
    from its first run (every run, producers and probabilistic rows too)."""
    bad = set()
    first = {}
    for op in ops:
        if op["ok"]:
            first.setdefault(op["name"], op["digest"])
    for o in oracles:
        if first.get(o["name"], o["digest"]) != o["digest"]:
            log(f"[layerbench] {o['name']}: dumped result differs from the timed runs")
            bad.add(o["name"])
        err = oracle.compare(data_dir, os.path.join(oracle_dir, o["name"]), o["sql"])
        if err:
            log(f"[layerbench] {o['name']}: oracle mismatch: {err}")
            bad.add(o["name"])
    failed = 0
    for op in ops:
        if not op["ok"] or op["name"] in bad or op["digest"] != first.get(op["name"]):
            if op["ok"] and op["name"] not in bad:
                log(f"[layerbench] {op['name']}: digest {op['digest']} != first {first[op['name']]}")
            failed += 1
    return failed


def call_summary(workload, ops, value):
    """(median call, tail, median bulk phase) over the measured calls,
    each call taken as `value(op)`."""
    if workload == "ingest":
        # a scheduler's steady-state /fetch is a refetch; the backfill is bulk
        lat = [value(o) for o in ops if o["kind"] == "refetch"]
        bulk = [value(o) for o in ops if o["kind"] == "backfill"]
        p50 = statistics.median(lat)
    else:
        lat = [value(o) for o in ops if o["kind"] == "serve"]
        build, serve = {}, {}
        for o in ops:
            if o["kind"] in ("build", "serve"):
                d = build if o["kind"] == "build" else serve
                d.setdefault(o["unit"], []).append(value(o))
        bulk = [sum(xs) for xs in build.values()]
        # The serve queries differ in cost, so a median over all calls
        # lands in the gap between two queries' times and jumps between
        # them; the median over passes of the mean call is steady and
        # moves with every query.
        p50 = statistics.median(statistics.fmean(xs) for xs in serve.values())
    return p50, stats.tail(lat), statistics.median(bulk)


def end_to_end(workload, raw, setups):
    """The end-to-end metrics, and the same call summaries in seconds for
    the per-layer report. Each call's time is divided by its unit's
    host-speed reference (`stats.unit_refs`): a busy host slows the
    reference job as much as the program, so the ratio keeps only what
    the program changes."""
    ops = [o for o in raw["ops"] if o["ok"]]
    ref = stats.unit_refs(raw["ref_s"])
    p50, (t, pct, n), bulk = call_summary(workload, ops, lambda o: o["s"] / ref[o["unit"]])
    p50_s, (t_s, _, _), bulk_s = call_summary(workload, ops, lambda o: o["s"])
    log(f"[layerbench] {workload}: {n} op samples, tail = p{pct:.1f}; median call {p50_s:.3f}s, "
        f"reference job {statistics.median(raw['ref_s']):.3f}s")
    return {
        "setup_s": (statistics.median(setups), "s"),
        "heap_live_mb": (raw["heap_live_mb"], "MB"),
        "op_p50_rel": (p50, "ratio"),
        "op_tail_rel": (t, "ratio"),
        "bulk_rel": (bulk, "ratio"),
    }, {
        "op.tail_pct": (pct, "%"),
        "op.samples": (n, "count"),
        "op.p50_s": (p50_s, "s"),
        "op.tail_s": (t_s, "s"),
        "op.bulk_s": (bulk_s, "s"),
        "host.ref_s": (statistics.median(raw["ref_s"]), "s"),
    }


def per_layer(workload, raw, calls):
    spans = raw["spans"]
    selfs = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    ex = raw["exec"]
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_ns": 0, "input_bytes": 0,
            "input_records": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "task_output_records": [], "cached_rdds": 0}

    def exec_of(pred):
        tot = dict(zero, task_output_records=[])
        for sid, c in ex.items():
            sp = by_id.get(int(sid))
            if sp is not None and pred(sp):
                for k, v in c.items():
                    tot[k] = tot[k] + v
        return tot

    def self_sum(pred):
        return sum(selfs[s["id"]] for s in spans if pred(s))

    traced = raw["traced_ops"]
    fetches = [o for o in traced if o["kind"] in ("backfill", "refetch")]
    fx = lambda k: sum(o["extra"][k] for o in fetches)
    m = {}
    m["sources.read_s"] = (self_sum(lambda s: s["name"] == "sources.read"), "s")
    m["sources.list_pages"] = (fx("list_pages"), "count")
    m["sources.batch_gets"] = (fx("batch_gets"), "count")
    m["sources.rows_read"] = (fx("rows_read"), "count")
    listed = fx("rows_read") + fx("skipped")
    m["sources.skipped_share"] = (fx("skipped") / listed if listed else 0.0, "ratio")
    m["sources.write_s"] = (self_sum(lambda s: s["name"] == "sources.write"), "s")
    m["sources.rows_landed"] = (fx("rows_landed"), "count")
    writes = exec_of(lambda s: s["name"] == "sources.write")
    m["sources.sink_batches"] = (stats.sink_batches(writes["task_output_records"],
                                                     INGEST["batchSize"]), "count")
    m["ingest.dedup_s"] = (self_sum(lambda s: s["name"] == "ingest.dedup"), "s")
    rin = fx("rows_read")
    m["ingest.dedup_drop_share"] = (
        (rin - fx("rows_fresh")) / rin if rin else 0.0, "ratio")

    for t in datagen.TABLES:
        m[f"tables.scan_s.{t}"] = (self_sum(lambda s, t=t: s["name"] == f"tables.scan.{t}"), "s")
    unit_root = lambda s: not s["name"].startswith(("tables.scan.", "functions."))
    tot = exec_of(unit_root)
    m["exec.input_mb"] = (tot["input_bytes"] / 2**20, "MB")
    m["exec.input_rows"] = (tot["input_records"], "count")
    m["exec.jobs"] = (tot["jobs"], "count")
    m["exec.stages"] = (tot["stages"], "count")
    m["exec.tasks"] = (tot["tasks"], "count")
    m["exec.task_cpu_s"] = (tot["task_cpu_ns"] / 1e9, "s")
    m["exec.shuffle_mb"] = (tot["shuffle_bytes"] / 2**20, "MB")
    m["exec.spill_mb"] = (tot["spill_bytes"] / 2**20, "MB")

    for mod, q in CURATION["queries"]:
        name = f"operators.{mod}.{q}"
        pick = lambda s, name=name: s["name"] == name
        m[f"query_s.{q}"] = (self_sum(pick), "s")
        qe = exec_of(pick)
        m[f"exec.tasks.{q}"] = (qe["tasks"], "count")
        m[f"exec.shuffle_mb.{q}"] = (qe["shuffle_bytes"] / 2**20, "MB")

    for f in ("cosine_sim", "word_shingle_hashes", "char_ngrams", "token_count"):
        m[f"functions.{f}_s"] = (self_sum(lambda s, f=f: s["name"] == f"functions.{f}"), "s")

    for p in CURATION["producers"]:
        key = p.split(":", 1)[1]
        m[f"memo.build_s.{key}"] = (self_sum(lambda s, p=p: s["name"] == f"memo.build.{p}"), "s")
    # the program's own counters: CachedRelation hits, memo builder runs
    builds = sum(o["extra"].get("builds", 0) for o in traced)
    hits = sum(o["extra"].get("hits", 0) for o in traced)
    m["memo.builds"] = (builds, "count")
    m["memo.cached_rdds"] = (exec_of(lambda s: True)["cached_rdds"], "count")
    m["memo.hits"] = (hits, "count")
    m["memo.hit_ratio"] = (hits / (hits + builds) if hits + builds else 0.0, "ratio")
    m["memo.cached_mb"] = (raw["cached_mb"], "MB")

    m["jvm.gc_s"] = (raw["gc_s"], "s")
    m["jvm.warmup_s"] = (raw["warmup_s"], "s")
    m["jvm.warmup_units"] = (len(raw["warmup_units"]), "count")
    m["jvm.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    untraced = [u["s"] for u in raw["units"] if u["kind"] != "error"]
    base = statistics.median(untraced)
    m["trace.overhead_share"] = (raw["traced_unit"]["s"] / base - 1.0, "ratio")
    m["trace.spans"] = (len(spans), "count")
    m.update(calls)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        conf, live = workload_conf(a.seed, data)
        conf.update({"workload": a.workload, "localDir": os.path.join(work, "spark-local"),
                     "trace": a.trace, "oracleDir": os.path.join(work, "oracle")})
        # The workload's own tables, plus in a traced run the tables the
        # single-layer probes read.
        t0 = time.time()
        if a.workload == "curation" or a.trace:
            datagen.generate(data, a.seed, CURATION["scale"])
        conf["probeTables"] = ",".join(datagen.TABLES)
        log(f"[layerbench] inputs generated in {time.time() - t0:.1f}s")

        # With tracing on, half the units run untraced (the overhead
        # baseline) and one more unit runs traced.
        units = stats.loop_units(a.seconds, UNIT_S[a.workload], a.trace)
        t0 = time.time()
        raw = jvm(dict(conf, setups=SETUPS, units=units, out=os.path.join(work, "run.json"),
                       **WARMUP[a.workload]), work)
        setups = raw["setup_s"]
        log(f"[layerbench] process {time.time() - t0:.1f}s: set-ups "
            + ", ".join(f"{x:.2f}s" for x in setups)
            + f"; warm-up {raw['warmup_s']:.1f}s, units "
            + " ".join(f"{x:.2f}" for x in raw["warmup_units"])
            + f"; loop {raw['loop_s']:.1f}s, units "
            + " ".join(f"{u['s']:.2f}" for u in raw["units"])
            + "; cpu " + " ".join(f"{u['cpu_s']:.2f}" for u in raw["units"])
            + "; reference " + " ".join(f"{x:.3f}" for x in raw["ref_s"]))
        t0 = time.time()

        ops = raw["ops"] + raw.get("traced_ops", [])
        if a.workload == "ingest":
            failed = check_ingest(ops, live, conf)
        else:
            failed = check_queries(ops, raw["oracles"], data, conf["oracleDir"])
        log(f"[layerbench] checked in {time.time() - t0:.1f}s")
        e2e, calls = end_to_end(a.workload, raw, setups)
        metrics = per_layer(a.workload, raw, calls) if a.trace else e2e
        log("[layerbench] all metrics: " + json.dumps({k: v for k, (v, _) in metrics.items()}))
        names = [m["name"] for m in declared()["per_layer" if a.trace else "end_to_end"]]
        result = {
            "correct": failed == 0 and len(ops) > 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
