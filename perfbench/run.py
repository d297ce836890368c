#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client drives the engine through
three workloads and prints every metric by name with its unit, after
checking every output.

    python3 perfbench/run.py --workload sql_tpch --seed 1 --seconds 20 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

* ``mr_corpus``: word count, grep and pipe word count through
  ``graft.mr.MapReduceRunner`` over a seeded Zipf corpus;
* ``sql_tpch``: ten of the 22 TPC-H-shaped declared queries;
* ``llm_ops``: LLM-pipeline declared queries (semantic dedup, ANN search,
  graph), which share build caches.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The exit code
is 0 only when every output matched.

``--smoke`` runs the same code on sf0.001 tables and a tiny corpus;
``--corrupt ITEM`` falsifies the expected result of one item, to show
the check fails it. ``perfbench/smoke.py`` uses both.

Everything the benchmark builds or generates goes under ``.bench_build/``
at the root of the checkout: classes, tables, corpora, the oracle cache and
the last run's logs.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import check  # noqa: E402
import datagen  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD

# The item lists are trimmed so that one run (set-up, warmup, the timed
# passes and the check) stays within 25-60 s on a 4-core box: the benchmark
# is run about 70 times per comparison.
# sql_tpch: scan+aggregate (q1, q6), join chains (q3, q5, q9, q12), outer
# join (q13), grouped subquery (q18), disjunctive predicate (q19),
# exists/not-exists (q21).
SQL_TPCH = [
    "q1_pricing", "q3_top_revenue", "q5_region_revenue", "q6_forecast",
    "q9_profit", "q12_ship_class", "q13_count_dist", "q18_large_volume",
    "q19_disjunct", "q21_waiting"]
# llm_ops keeps two shared build caches, each with two consumers: the IVF
# centroids (sim_ann_ivf, dedup_semantic) and the minhash pair graph
# (graph_bfs, and dedup_cluster_sizes, which builds cluster labels on it).
LLM_OPS = ["sim_ann_ivf", "dedup_semantic", "graph_bfs", "dedup_cluster_sizes"]
MR_JOBS = ["wc", "grep", "wc_pipe"]

# Per workload: items, tables scale factor, JVM heap, the tables of the
# warm pass (None: the run's own inputs) and the fewest timed passes.
# mr_corpus's heap is fixed so that word count's sort spills and grep's
# does not. sql_tpch warms on the sf0.001 tables and times two passes: one
# pass after a warm pass over its own tables spread twice as much in CPU
# from run to run, and two such passes would not fit the run time.
WORKLOADS = {
    "mr_corpus": {"items": MR_JOBS, "sf": None, "heap": "512m", "warm_sf": None, "min_passes": 1},
    "sql_tpch": {"items": SQL_TPCH, "sf": 0.1, "heap": "2g", "warm_sf": 0.001, "min_passes": 2},
    "llm_ops": {"items": LLM_OPS, "sf": 0.1, "heap": "2g", "warm_sf": None, "min_passes": 1},
}
CORPUS = {"files": 8, "mb": 8.0}
SMOKE_CORPUS = {"files": 4, "mb": 0.2}
SMOKE_SF = 0.001
JVM_LIMIT_S = 150


def declared():
    """(end-to-end, per-layer) metric names and units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def log(msg):
    print(f"perfbench: {msg}", flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def prepare_inputs(workload, seed, smoke):
    """Generated inputs of this run: the tables (and those of the warm
    pass), or the seed's corpus with its expected outputs."""
    key = datagen.source_key()
    data = os.path.join(BUILD, "data")

    def tables(sf):
        return datagen.ensure(os.path.join(data, f"tables-sf{sf}"), key,
                              lambda d: datagen.write_tables(d, sf))
    inputs = {"tables": "", "warm_tables": "", "tables_key": "", "corpus": ""}
    spec = WORKLOADS[workload]
    if spec["sf"] is not None:
        sf = SMOKE_SF if smoke else spec["sf"]
        inputs["tables"] = tables(sf)
        inputs["warm_tables"] = tables(spec["warm_sf"]) if spec["warm_sf"] else inputs["tables"]
        inputs["tables_key"] = f"{key}/sf{sf}"
    else:
        size = SMOKE_CORPUS if smoke else CORPUS
        name = f"corpus-{seed}-{size['files']}x{size['mb']}"
        corpus = datagen.ensure(os.path.join(data, name), key, lambda d: datagen.write_corpus(
            d, seed, size["files"], size["mb"]))
        with open(os.path.join(corpus, ".expected.json")) as fh:
            inputs["expected"] = json.load(fh)
        inputs["corpus"] = corpus
        # keep the corpora of the last few seeds only
        seeds = sorted((os.path.join(data, p) for p in os.listdir(data)
                        if p.startswith("corpus-") and p[7:].split("-")[0].isdigit()),
                       key=os.path.getmtime)
        for old in seeds[:-4]:
            if old != corpus:
                shutil.rmtree(old, ignore_errors=True)
    return inputs


def launch(classes, plan_path, heap, work, deadline):
    jars = build.spark_jars()
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graft.perfbench.PerfBench", plan_path]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: the JVM did not finish in time")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: the JVM exited with code {rc}")


def check_outputs(workload, inputs, out, passes, corrupt):
    """Failure reason (or None) for every (pass, item) that ran."""
    failures = {}
    if workload == "mr_corpus":
        expected = inputs["expected"]
        if corrupt:  # one word's expected count off by one
            counts = dict(expected["counts"])
            counts[min(counts)] += 1
            expected = dict(expected, counts=counts)
        for p, ps in enumerate(passes):
            res = check.check_mr_pass(os.path.join(out, "mr", f"p{p}"), expected)
            for it in ps["items"]:
                failures[(p, it["name"])] = it["error"] or res.get(it["name"])
        return failures
    with open(os.path.join(out, "oracle.json")) as fh:
        sqls = json.load(fh)
    oracle = check.Oracle(inputs["tables"], inputs["tables_key"], os.path.join(BUILD, "oracle"),
                          os.path.join(out, "duckdb-tmp"))
    with open(os.path.join(out, "rows.jsonl")) as fh:
        for line in fh:
            got = json.loads(line)
            key = (got["pass"], got["item"])
            if "error" in got:
                failures[key] = got["error"]
            elif got["item"] not in sqls:
                failures[key] = "no oracle SQL"
            else:
                want = oracle.expected(sqls[got["item"]])
                if got["item"] == corrupt:
                    want = dict(want, rows=want["rows"][1:] or [[None] * len(want["cols"])])
                failures[key] = check.compare(got, want)
    return failures


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    ps = res["passes"]
    return {
        "run_s": median([p["wall_s"] for p in ps]),
        "cpu_s": median([p["cpu_s"] for p in ps]),
        "heap_peak_mb": max(p["heap_peak_mb"] for p in ps),
        "setup_s": res["jvm_boot_s"] + res["start_s"] + res["warmup_s"],
    }


def per_layer(res, names, failed_ratio):
    ps = res["passes"]
    # the eviction before pass p+1 (or the final one) sweeps what pass p left
    after = [dict(evict_s=q["evict_s"], residue_mb=q["residue_mb"], residue_rdds=q["residue_rdds"])
             for q in ps[1:]]
    after.append(dict(evict_s=ps[-1]["evict_s"], residue_mb=res["final_residue_mb"],
                      residue_rdds=res["final_residue_rdds"]))
    traced = [i for i, p in enumerate(ps) if p["traced"]]
    plain = [i for i, p in enumerate(ps) if not p["traced"]]
    m = {}
    for name in names:
        m[name] = median([ps[i]["layers"].get(name, 0.0) for i in traced])
    m["cache.builds"] = median([ps[i]["cache_builds"] for i in traced])
    m["cache.storage_mb"] = median([after[i]["residue_mb"] for i in traced])
    m["cache.persisted_rdds"] = median([after[i]["residue_rdds"] for i in traced])
    m["cache.evict_s"] = median([after[i]["evict_s"] for i in traced])
    m["jvm.gc_s"] = median([ps[i]["gc_s"] for i in traced])
    m["jvm.gc_count"] = median([ps[i]["gc_count"] for i in traced])
    m["mr.md5_ns_per_key"] = res["md5_ns_per_key"]
    m["item.p50_s"] = median([it["wall_s"] for i in traced for it in ps[i]["items"]])
    m["item.max_s"] = max((it["wall_s"] for i in traced for it in ps[i]["items"]), default=0.0)
    m["check.failed_ratio"] = failed_ratio
    m["host.ext_cores"], m["host.iowait_cores"] = contention(res)
    base = median([ps[i]["wall_s"] for i in plain])
    m["trace.overhead_share"] = median([ps[i]["wall_s"] for i in traced]) / base - 1 if base else 0.0
    return m


def contention(res):
    wall = sum(p["wall_s"] for p in res["passes"]) or 1.0
    return (sum(p["ext_busy_s"] for p in res["passes"]) / wall,
            sum(p["iowait_s"] for p in res["passes"]) / wall)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", default=None)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so the compiler or the JVM (with the
    # JVM's pipes) is killed and waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()

    classes = build.build()
    t_built = time.monotonic()
    spec = WORKLOADS[args.workload]
    inputs = prepare_inputs(args.workload, args.seed, args.smoke)
    t_inputs = time.monotonic()
    work = os.path.join(BUILD, "run", args.workload + ("-smoke" if args.smoke else ""))
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    rng = random.Random(args.seed)
    orders = []
    for _ in range(64):
        order = list(spec["items"])
        rng.shuffle(order)
        orders.append(order)
    plan = {
        "workload": args.workload, "items": spec["items"],
        "orders": orders,
        "seconds": args.seconds, "trace": bool(args.trace), "cores": cores(),
        # traced: untraced, traced, untraced at least, so the overhead
        # estimate is not biased by the passes still getting warmer
        "min_passes": max(spec["min_passes"], 3 if args.trace else 1),
        "clock_ticks": os.sysconf("SC_CLK_TCK"),
        "tables": inputs["tables"], "warm_tables": inputs["warm_tables"],
        "corpus": inputs["corpus"],
        "grep_token": datagen.GREP_TOKEN, "work": work, "out": out}
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    launch(classes, plan_path, spec["heap"], work, time.monotonic() + JVM_LIMIT_S)
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)

    t_jvm = time.monotonic()
    failures = check_outputs(args.workload, inputs, out, res["passes"], args.corrupt)
    t_check = time.monotonic()
    for (p, item), why in sorted(failures.items()):
        if why:
            log(f"FAIL pass {p} {item}: {why}")
    attempted = sum(len(p["items"]) for p in res["passes"])
    failed = sum(1 for why in failures.values() if why)
    failed += attempted - len(failures)  # an item with no recorded output failed
    ratio = failed / attempted

    log(f"wall build={t_built - t_start:.1f}s inputs={t_inputs - t_built:.1f}s "
        f"jvm={t_jvm - t_inputs:.1f}s check={t_check - t_jvm:.1f}s "
        f"(in the JVM: boot={res['jvm_boot_s']:.1f}s start={res['start_s']:.1f}s "
        f"warmup={res['warmup_s']:.1f}s)")
    ext, iow = contention(res)
    log(f"workload={args.workload} seed={args.seed} cores={cores()} heap={spec['heap']} "
        f"passes={len(res['passes'])} items={attempted} failed={failed} "
        f"failed_ratio={ratio:.4f}")
    log(f"contention ext_cores={ext:.2f} iowait_cores={iow:.2f} "
        f"contended={'yes' if ext > 1.0 or iow > 1.0 else 'no'}")
    e2e_names, layer_names = declared()
    if args.trace:
        names = layer_names
        values = per_layer(res, [n for n, _ in names], ratio)
    else:
        names, values = e2e_names, end_to_end(res)
    metrics = {}
    for name, unit in names:
        metrics[name] = {"value": values[name], "unit": unit}
        log(f"{name} = {values[name]:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    # keep only the plan, the JVM log and out/ (minus MapReduce outputs)
    for d in os.listdir(work):
        if os.path.isdir(os.path.join(work, d)) and d != "out":
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "mr"), ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
