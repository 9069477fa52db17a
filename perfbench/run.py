#!/usr/bin/env python3
"""Seeded user-workload benchmark of the graft engine.

  python3 perfbench/run.py --workload lake_query --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and perfbench/NOTES.md):
  lake_query       one client's seeded queries over a three-month lake built
                   by the market transforms; the traced run also lands one
                   day of the daily ETL job into it, leg by leg
  corpus_curation  the LLM-curation rows in order over a seeded corpus

Builds the engine and the benchmark's JVM program from source on first use (build.py),
generates the inputs from --seed, runs the workload in one JVM with
local[nproc], checks the answers against DuckDB outside every timed region,
and prints one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics (from a traced replay of the same work) with --trace 1.
"""
import argparse
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("lake_query", "corpus_curation")
# lake_query: a lake of about three months (with the 23-hour 2024-03-31);
# the traced run's daily ETL job lands 2024-05-01, whose UTC span opens in
# the April partitions
LAKE_FIRST, LAKE_LAST = dt.date(2024, 2, 1), dt.date(2024, 4, 30)
ETL_DAY = dt.date(2024, 5, 1)
CORPUS_ROWS = ["llm_dedup_clusters", "llm_decontaminate_bloom", "llm_semdedup",
               "pipeline_curation_full_e2e"]
# The work of a run is a function of --seconds and --trace alone, sized to
# take about that long on a 4-core host, so both sides of an A/B do the
# same work.
LAKE_UNITS, MIN_QUERIES, QUERIES_PER_S = (20, 20), 20, 3.6  # I90 and OMIE units
WARM_STREAM = 25  # queries drawn for the warm pass (which keeps one of each kind)
CORPUS_DOCS, CORPUS_SEQ_S = 1000, 6.0
RUN_LIMIT_S = 175  # the whole run, build excluded
JVM_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def manifest(workload, seed, seconds, trace, work):
    """Generate the workload's inputs from the seed into `work`; return the
    manifest the JVM program reads. A traced run times its work three times
    (untraced, traced, untraced again), so it is given half the work."""
    if trace:
        seconds /= 2
    inp = os.path.join(work, "inputs")
    m = {"workload": workload, "work": work, "seed": seed, "cores": cores()}
    if workload == "lake_query":
        days = [LAKE_FIRST + dt.timedelta(days=i)
                for i in range((LAKE_LAST - LAKE_FIRST).days + 1)]
        files = gen.write_market(os.path.join(inp, "lake"), seed, days, *LAKE_UNITS)
        # the build lands every day of the lake as batch 0; the daily job's
        # legs come later (batches 1, 2, ...), so keep-last prefers them
        m["build"] = {
            "esios": [os.path.join(inp, "lake", "esios", "*.csv")],
            "i90": sorted(p for (ds, _, _), p in files.items() if ds == "i90"),
            "omie": [os.path.join(inp, "lake", "omie", "*.csv")],
        }
        etl = gen.etl_schedule(seed, [ETL_DAY])
        files = gen.write_market(os.path.join(inp, "etl"), seed, [ETL_DAY], *LAKE_UNITS,
                                 schedule=etl)
        for leg in etl[0]["legs"]:
            leg["path"] = files[(leg["ds"], leg["day"], leg["rev"])]
        m["etl_legs"] = etl[0]["legs"]
        n = max(MIN_QUERIES, round(seconds * QUERIES_PER_S))
        m["queries"] = gen.lake_queries(seed, LAKE_FIRST, LAKE_LAST, n)
        # the warm pass: one query of every kind, from another stream
        kinds = {}
        for q in gen.lake_queries(seed, LAKE_FIRST, LAKE_LAST, WARM_STREAM, stream=1):
            kinds.setdefault((q["template"], q.get("kind")), q)
        m["warm_queries"] = list(kinds.values())
    else:
        gen.write_corpus(os.path.join(inp, "corpus"), seed, CORPUS_DOCS)
        m.update(corpus=os.path.join(inp, "corpus"), n_docs=CORPUS_DOCS,
                 rows=CORPUS_ROWS, sequences=max(1, round(seconds / CORPUS_SEQ_S)))
    return m


def java(classpath, work, flags, args, log_path, timeout):
    """Run the JVM program with its scratch space inside `work`; returns the
    exit code, or None when it ran past `timeout` and was killed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", "-Xss4m", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + flags
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PerfBench"] + args
    with open(log_path, "wb") as log:
        # two malloc arenas: the default (8 per core) lets native buffers
        # scatter over arenas and makes the peak RSS vary from run to run
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def class_archive(stamp):
    """The JVM class-data archive of this build. The first run of a build
    archives the classes its JVM loaded when it exits; later runs map that
    archive instead of loading those classes from the jars, which takes
    seconds off every JVM start and warm pass. Returns (JVM flags, whether
    this run makes the archive)."""
    jsa = os.path.join(OUT, "classes.jsa")
    if os.path.exists(jsa + ".stamp") and open(jsa + ".stamp").read() == stamp:
        return [f"-XX:SharedArchiveFile={jsa}"], False
    for f in (jsa, jsa + ".stamp"):
        if os.path.exists(f):
            os.remove(f)
    return [f"-XX:ArchiveClassesAtExit={jsa}"], True


def checks(workload, m, v):
    if workload == "lake_query":
        market = oracle.check_market(v) if "transformed_i90" in v else []
        return market + oracle.check_queries(v, m["queries"])
    return oracle.check_corpus(v, m["rows"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath, stamp = build.build()
    os.makedirs(OUT, exist_ok=True)
    flags, archiving = class_archive(stamp)
    t0 = time.time()  # set-up is timed from here: building is not set-up

    work = os.path.join(OUT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    m = manifest(a.workload, a.seed, a.seconds, a.trace, work)
    m.update(trace=bool(a.trace), t0_ms=int(t0 * 1000))
    mpath, rpath = os.path.join(work, "manifest.json"), os.path.join(work, "result.json")
    with open(mpath, "w") as f:
        json.dump(m, f)
    log = os.path.join(work, "jvm.log")
    rc = java(classpath, work, flags, [mpath, rpath], log,
              max(10.0, RUN_LIMIT_S - (time.time() - t0)))
    jsa = os.path.join(OUT, "classes.jsa")
    if archiving and rc == 0 and os.path.exists(jsa):
        with open(jsa + ".stamp", "w") as f:
            f.write(stamp)
    if rc != 0 or not os.path.exists(rpath):
        with open(log, "rb") as f:
            sys.stderr.write(f.read()[-3000:].decode(errors="replace"))
        sys.exit(f"perfbench: the JVM {'ran past the run limit' if rc is None else 'failed'}")
    with open(rpath) as f:
        res = json.load(f)
    with open(log, errors="replace") as f:
        sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))

    tc = time.time()
    results = checks(a.workload, m, res["verify"])
    print(f"[perfbench] gate (DuckDB side) {time.time() - tc:.2f} s", file=sys.stderr)
    for name, ok, detail in results:
        if not ok:
            print(f"[perfbench] CHECK FAILED {name}: {detail}", file=sys.stderr)
    for e in res["errors"]:
        print(f"[perfbench] ERROR {e}", file=sys.stderr)
    attempted = res["attempted"] + len(results)
    failed = res["failed"] + sum(1 for _, ok, _ in results if not ok)

    got = res["metrics"]
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        # a layer a workload does not use reports 0 (see NOTES.md)
        names = [x["name"] for x in spec["per_layer"]]
        metrics = {k: {"value": float(got.get(k, 0.0)), "unit": units[k]} for k in names}
        keep = os.path.join(OUT, f"spans-{a.workload}-{a.seed}.jsonl")
        shutil.copyfile(res["verify"]["spans"], keep)
        print(f"[perfbench] spans: {keep}", file=sys.stderr)
    else:
        names = [x["name"] for x in spec["end_to_end"]]
        missing = [k for k in names if k not in got]
        if missing:
            sys.exit(f"perfbench: no value for {missing}")
        metrics = {k: {"value": float(got[k]), "unit": units[k]} for k in names}
    print(f"[perfbench] {a.workload} seed={a.seed} ops={got.get('ops')} "
          f"steal_share={res['verify'].get('steal_share'):.4f} checks={len(results)} "
          f"run={time.time() - t0:.1f}s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
