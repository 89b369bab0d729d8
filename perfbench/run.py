#!/usr/bin/env python3
"""The graft benchmark: one seeded workload, timed end to end, outputs checked.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the JVM
harness (perfbench/build.sbt) once per source state, generates the
workload's inputs from the seed, runs them in one JVM on local[4], checks
every output, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": n, "failed": k, "metrics": {name: {value, unit}}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list; a run never prints any other metric.
Everything it writes goes under .bench_build/ in the checkout: each
build's classes, and the program's model store, primed once per build.

Workloads (closed loop, one client: each item starts when the last is
checked; a run is one pass that runs every item once in a seeded order):
  registry   10 of the 183 registered queries (perfbench/registry.txt, one per
             module) over the sf0.001 tables in perfbench/data/base;
             results must equal the DuckDB oracle. Per-query fixed and
             first-use cost dominate here.
  detectors  one RunDetectors.run, as the reference's CLI runs it, over
             each of the four 150-file splits of a seeded SCC
             conversation-JSON corpus; processed must equal a DuckDB
             replay of the loader filters, and the summary must repeat.
See perfbench/README.md for the metrics and the traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
BASE = os.path.join(HERE, "data", "base")
sys.path.insert(0, HERE)
import gen  # noqa: E402

CORPUS_FILES = 600
MEASURE_TIMEOUT_S, PRIME_TIMEOUT_S = 170, 600
JVM_OPTS = [
    "-Xmx3g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for o in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_hash():
    """Digest of what builds and selects the timed code and its inputs: a
    new digest means a new build, a fresh model store and freshly checked
    expected results."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += [os.path.join(HERE, f) for f in ("registry.txt", "gen.py")]
    files.append(os.path.join(ROOT, "scripts", "check.py"))
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_proc(cmd, timeout, cwd=ROOT, env=None, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout}s")
    return p.returncode, out


def build(src):
    """Compile the program and the harness, and copy the class directories
    the runtime classpath names into .bench_build/build/<src>/, so that each
    source state keeps its own classes when sbt's target/ is rebuilt for
    another. Returns the classpath, cached per source state."""
    out_dir = os.path.join(WORK, "build", src)
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       timeout=800, cwd=HERE, env=env, stdout=subprocess.PIPE)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out or "")
        fail(f"build failed (sbt exit {rc})")
    shutil.rmtree(out_dir, ignore_errors=True)
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(out_dir, f"classes{i}")
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def harness(cp, state, args, timeout, run_tag):
    """One harness JVM, on the source state's own model store. Its temp
    files and Spark scratch stay under .bench_build and are removed when it
    exits."""
    tmp = os.path.join(WORK, "tmp", f"{run_tag}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_LOCAL"))}
    env["SPARK_GRAFT_MODELSTORE"] = os.path.join(state, "modelstore")
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           "-cp", cp, "graft.bench.Harness", *args]
    try:
        rc, _ = run_proc(cmd, timeout, env=env)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"harness exited with {rc}")


def load_json(path, default=None):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def save_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def registry_queries():
    """The registry workload's fixed query list (see registry.txt)."""
    with open(os.path.join(HERE, "registry.txt")) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def prime(cp, state, names):
    """Once per build: run Warmup.run against the empty model store (the
    cold set-up figure), then dump each registry query's result and check
    it against its DuckDB oracle. Untimed; later runs reuse all of it."""
    path = os.path.join(state, "prime.json")
    primed = load_json(path)
    if primed is not None:
        return primed
    # an earlier prime that did not finish may have left a partial store
    shutil.rmtree(os.path.join(state, "modelstore"), ignore_errors=True)
    dump = os.path.join(state, "validate")
    qfile = os.path.join(state, "registry.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")
    out = os.path.join(state, "prime-out.json")
    log("priming the model store and checking registry results against DuckDB")
    harness(cp, state, ["--mode", "prime", "--workload", "registry", "--data", BASE,
                 "--queries", qfile, "--validate", dump, "--out", out],
            PRIME_TIMEOUT_S, "prime")
    res = load_json(out)
    import oracle  # DuckDB and pandas load only when a check needs them
    verdicts = oracle.registry_verdicts(BASE, dump, names)
    expected = {}
    for v in res["validation"]:
        verdict = f"fail: {v['error']}" if v["error"] else verdicts[v["name"]]
        expected[v["name"]] = {"rows": v["rows"], "checksum": v["checksum"],
                               "oracle": verdict}
    bad = {k: v["oracle"] for k, v in expected.items() if v["oracle"] != "pass"}
    if bad:
        log(f"oracle mismatches: {json.dumps(bad)[:2000]}")
    primed = {"cold_setup_s": res["setup_s"] + sum(res["warmup"].values()),
              "expected": expected}
    shutil.rmtree(dump, ignore_errors=True)
    save_json(path, primed)
    return primed


def detectors_expected(corpus):
    """DuckDB replay counts of the corpus, computed once per corpus."""
    path = os.path.join(corpus, "replay.json")
    counts = load_json(path)
    if counts is None:
        import oracle
        counts = {split: oracle.replay_counts(os.path.join(corpus, split))
                  for split in gen.SPLITS}
        save_json(path, counts)
    return counts


def check_registry(items, expected):
    failed = 0
    for it in items:
        exp = expected.get(it["name"])
        ok = (it["error"] is None and exp is not None and exp["oracle"] == "pass"
              and it["rows"] == exp["rows"] and it["checksum"] == exp["checksum"])
        if not ok:
            failed += 1
            log(f"FAILED {it['name']}: error={it['error']} rows={it['rows']} "
                f"checksum={it['checksum']} expected={exp}")
    return failed


def check_detectors(items, replay, digests, split_counts):
    """A call passes when it processed every message the DuckDB replay keeps,
    its summary digest matches the first one recorded for the seed, and
    Spark's own loader counts match the replay."""
    failed = 0
    for it in items:
        split = it["name"]
        first = digests.setdefault(split, it["checksum"]) if it["error"] is None else None
        ok = (it["error"] is None and it["rows"] == replay[split]["f3_messages"]
              and it["checksum"] == first and split_counts.get(split) == replay[split])
        if not ok:
            failed += 1
            log(f"FAILED detectors {split}: error={it['error']} processed={it['rows']} "
                f"replay={replay[split]} spark={split_counts.get(split)} "
                f"digest={it['checksum']} first={first}")
    return failed


def untraced_walls(state, workload, seed):
    """Untraced first-pass walls to set the traced run's wall against: this
    seed's own if it has one, else those of the workload's other seeds."""
    d = os.path.join(state, "untraced")
    own = load_json(os.path.join(d, f"{workload}-{seed}.json"))
    if own:
        return [own["wall_s"]]
    if not os.path.isdir(d):
        return []
    return [load_json(os.path.join(d, f))["wall_s"] for f in sorted(os.listdir(d))
            if f.startswith(f"{workload}-")]


def measure(cp, state, primed, names, workload, seed, trace):
    """One measuring JVM over the seed's inputs; returns its result, the
    timed items, and how many of them failed their check."""
    tag = f"{workload}-{seed}-t{trace}"
    out = os.path.join(WORK, "runs", f"{tag}.json")
    args = ["--mode", "measure", "--workload", workload, "--data", BASE,
            "--trace", str(trace), "--out", out, "--run-id", tag]
    if trace:
        args += ["--spans", os.path.join(WORK, "runs", f"{tag}.spans.json")]
    if workload == "registry":
        items_all = names
    else:
        corpus = gen.detectors_corpus(os.path.join(WORK, "inputs", "detectors"),
                                      seed, CORPUS_FILES)
        replay = detectors_expected(corpus)
        items_all = sorted(replay)
        dig_path = os.path.join(state, f"detectors-{os.path.basename(corpus)}.json")
        recorded = load_json(dig_path, {"digests": {}, "split_counts": None})
        args += ["--corpus", corpus]
        if recorded["split_counts"] is None:
            args += ["--count-splits", ",".join(items_all)]
    args += ["--items", ",".join(gen.pass_order(items_all, seed))]
    os.makedirs(os.path.dirname(out), exist_ok=True)
    harness(cp, state, args, MEASURE_TIMEOUT_S, tag)
    res = load_json(out)
    items = res["pass"]["items"]
    if workload == "registry":
        failed = check_registry(items, primed["expected"])
    else:
        if recorded["split_counts"] is None:
            recorded["split_counts"] = res["split_counts"]
        failed = check_detectors(items, replay, recorded["digests"],
                                 recorded["split_counts"])
        save_json(dig_path, recorded)
    log(f"canary start {res['canary_start']} end {res['canary_end']}")
    if not trace:
        # the untraced wall of this seed is the base of the traced run's overhead
        save_json(os.path.join(state, "untraced", f"{workload}-{seed}.json"),
                  {"wall_s": res["pass"]["wall_s"]})
    return res, items, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if spec is None or a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"workload {a.workload!r} is not listed in BENCHMARK.json")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")

    src = source_hash()
    state = os.path.join(WORK, "state", src)
    os.makedirs(state, exist_ok=True)
    cp = build(src)
    names = registry_queries()
    primed = prime(cp, state, names)

    if a.trace and not untraced_walls(state, a.workload, a.seed):
        log("no untraced run of this workload yet: measuring one for the overhead")
        measure(cp, state, primed, names, a.workload, a.seed, 0)
    res, items, failed = measure(cp, state, primed, names, a.workload, a.seed, a.trace)
    walls = [it["wall_s"] for it in items]
    wall_s = res["pass"]["wall_s"]
    if wall_s < a.seconds:
        log(f"the pass took {wall_s:.1f} s, less than --seconds {a.seconds:g}: "
            "a run measures one pass, so the workload needs more work per pass")
    if not a.trace:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": wall_s,
            "cpu_s": res["pass"]["cpu_s"],
        }
        listed = spec["end_to_end"]
    else:
        values = dict(res["layers"])
        values["session.init_s"] = res["session_s"]
        values["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        values["query.p50_s"] = statistics.median(walls)
        # a phase the program no longer has reads 0; a new one is logged
        for m in spec["per_layer"]:
            if m["name"].startswith("warmup."):
                values[m["name"]] = 0.0
        for phase, s in res["warmup"].items():
            if f"warmup.{phase}_s" not in values:
                log(f"warmup phase {phase!r} is not named in BENCHMARK.json")
            values[f"warmup.{phase}_s"] = s
        values["modelstore.cold_setup_s"] = primed["cold_setup_s"]
        values["trace.overhead_s"] = wall_s - statistics.median(
            untraced_walls(state, a.workload, a.seed))
        per_item = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t1.per_item.json")
        with open(per_item, "w") as f:
            json.dump(res["per_item"], f, indent=1)
        log(f"per-item layers in {per_item}; spans next to it")
        listed = spec["per_layer"]
    # self-check: print exactly the metrics BENCHMARK.json names for this mode
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        fail(f"metrics named in BENCHMARK.json but not measured: {missing}")
    unlisted = sorted(set(values) - {m["name"] for m in listed})
    if unlisted:
        log(f"measured but not named in BENCHMARK.json, not printed: {unlisted}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({"correct": failed == 0, "attempted": len(items),
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
