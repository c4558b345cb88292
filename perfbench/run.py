"""The repo benchmark: drives the graft library from outside, through
`SparkEntry.queries`, the `ManifestTable` / `MergeInto` facade and SQL on
`GraftCatalog`, and checks every answer.

    python3 perfbench/run.py --workload <olap_mix|olap_hot|lakehouse>
        --seed <n> --seconds <s> --trace <0|1>

One run: build the library if its sources changed, generate the inputs
from the seed, start one JVM (closed loop, one client, one op in flight,
`local[k]` with k = min(4, nproc) and k shuffle partitions), measure for
`--seconds` of op time, check the answers, print a report and, as the last
line, one JSON object with the end-to-end metrics (`--trace 0`) or the
per-layer metrics (`--trace 1`). Everything it writes stays under
`.bench_build/` of the checkout; the run's own directory is removed at
the end, the full artifact is kept under `.bench_build/results/`.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WARMUP = "q_agg_pricing_summary"
JVM_HEAP = "3g"

# The hot session's reports: slow read-only graph, TPC-H, simhash and
# Jaccard queries.
HOT_QUERIES = ["q_graph_triangles", "q_tpch_q9", "q_dedup_simhash",
               "q_text_jaccard_pairs"]

# Scale of the generated tables, and which tables a workload reads.
WORKLOADS = {
    "olap_mix": {"sf": 0.001, "tables": None},
    "olap_hot": {"sf": 0.02, "tables": None},
    "lakehouse": {"sf": 0.05, "tables": ["orders", "lineitem"]},
}

# lakehouse op mix: how often each op is called in the twenty q_table_*
# lifecycles of `graft.queries.TableQueries`, the library's own table
# workloads (call sites in code, counted once per lifecycle). The 31 plain
# facade reads there are split between the two pruned read forms. Of the
# 84 calls, compact (2) and vacuum (1) run at fixed op counts.
LAKE_MIX = {"append": 16, "merge": 6, "merge_into": 3, "sql_merge": 3,
            "update": 3, "sql_update": 2, "delete": 2, "sql_delete": 1,
            "dv_delete": 2, "range_read": 16, "needle": 15, "sql_read": 4,
            "time_travel": 6, "changes": 2}
LAKE_CYCLE = sum(LAKE_MIX.values()) + 3
LAKE_COMPACT_AT = (20, 62)   # op indexes within each LAKE_CYCLE ops
LAKE_VACUUM_AT = (41,)
# A CDC batch as in q_table_merge's changelog: updates, deletes and
# inserts in the shares 1/5 : 1/11 : 1/19 of the keys it touches.
LAKE_CDC = (1 / 5, 1 / 11, 1 / 19)
# Placeholders, from no source: rows per append or CDC batch, the share of
# the key space a CDC batch updates, and the key-range widths of reads,
# updates and deletes (in lake_cycles).
LAKE_BATCH = 200
LAKE_HOT = 0.03
LAKE_MIN_OPS = 100   # so the lakehouse tail is a p90 with 10+ ops beyond
LAKE_KEEP = 10       # snapshots vacuum keeps; time travel stays inside
LAKE_LOADS = 4       # commits (one file each) that build the base table
OLAP_STRATA = 30     # cost strata of the olap_mix pool; one query each


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def olap_pool(registry):
    """Read-only oracle-checked queries: every q_* with an oracle, minus
    the table family (its frame construction commits) and the warm-up."""
    return sorted(q for q, sql in registry.items()
                  if q.startswith("q_") and sql and
                  not q.startswith("q_table_") and q != WARMUP)


def olap_cycles(rng, pool, costs):
    """Cycles of distinct queries, one from each cost stratum of the pool,
    so every cycle costs about the same. Queries without a recorded cost
    take the median cost."""
    mid = sorted(costs.values())[len(costs) // 2]
    ranked = sorted(pool, key=lambda q: (costs.get(q, mid), q))
    size = len(ranked) // OLAP_STRATA
    strata = [ranked[i * size:(i + 1) * size] for i in range(OLAP_STRATA)]
    for s in strata:
        rng.shuffle(s)
    cycles = [[s[i] for s in strata] for i in range(size)]
    for c in cycles:
        rng.shuffle(c)
    return cycles


def lake_stream(rng, count):
    """`count` op kinds holding LAKE_MIX in every prefix: the j-th of the
    w calls of a kind per cycle sits at (j + u) / w of the cycle, u drawn
    per kind, so the seed sets the order and not the mix."""
    slots = []
    for cycle in range(count // LAKE_CYCLE + 1):
        for kind, w in LAKE_MIX.items():
            u = rng.random()
            slots += [(cycle + (j + u) / w, kind) for j in range(w)]
    slots.sort()
    stream, kinds = [], iter(k for _, k in slots)
    for i in range(count):
        at = i % LAKE_CYCLE
        stream.append("compact" if at in LAKE_COMPACT_AT else
                      "vacuum" if at in LAKE_VACUUM_AT else next(kinds))
    return stream


def lake_cycles(rng, n_orders, n_customers, count):
    """The warm-up cycle, then `count` timed ops (one per cycle, so the
    window may end after any op), over keys [0, n_orders)."""
    next_key = n_orders
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    upd, dele, ins = (round(LAKE_BATCH * x / sum(LAKE_CDC)) for x in LAKE_CDC)

    def row(k, op):
        return [k, rng.randrange(n_customers), rng.choice("FOP"),
                rng.randrange(100000, 50000000), rng.randrange(2404),
                rng.choice(prios), op]

    def key_range(width):
        lo = rng.randrange(max(1, next_key - width))
        return {"lo": lo, "hi": lo + width - 1}

    def op(kind):
        nonlocal next_key
        o = {"kind": kind}
        if kind == "append":
            o["rows"] = [row(next_key + j, "U")[:6] for j in range(LAKE_BATCH)]
            next_key += LAKE_BATCH
        elif kind in ("merge", "merge_into", "sql_merge"):
            # a CDC batch: updates and deletes inside one hot key region,
            # plus new keys
            width = int(n_orders * LAKE_HOT)
            lo = rng.randrange(next_key - width)
            old = rng.sample(range(lo, lo + width), upd + dele)
            o["rows"] = ([row(k, "U") for k in old[:upd]] +
                         [row(k, "D") for k in old[upd:]] +
                         [row(next_key + j, "U") for j in range(ins)])
            next_key += ins
        elif kind in ("sql_update", "update"):
            o.update(key_range(rng.randrange(20, 400)))
        elif kind in ("sql_delete", "delete", "dv_delete"):
            o.update(key_range(rng.randrange(5, 60)))
        elif kind in ("range_read", "sql_read", "time_travel"):
            o.update(key_range(rng.randrange(100, 2000)))
        elif kind == "needle":
            o["cust"] = rng.randrange(n_customers)
        if kind in ("time_travel", "changes"):
            o["back"] = rng.randrange(1, LAKE_KEEP - 2)
        return o

    compact = {"kind": "compact"}
    vacuum = {"kind": "vacuum", "keep": LAKE_KEEP}
    warm = [op(k) for k in rng.sample(sorted(LAKE_MIX), len(LAKE_MIX))]
    special = {"compact": compact, "vacuum": vacuum}
    timed = [[special.get(k) or op(k)] for k in lake_stream(rng, count)]
    return [warm + [compact, vacuum]] + timed


def make_plan(workload, seed, seconds, trace, registry, data, work):
    """Everything the seed decides. The program sees only this plan and
    the generated tables, never the seed."""
    rng = random.Random(f"{workload}:{seed}")
    plan = {"workload": workload, "cores": cores(), "seconds": seconds,
            "trace": bool(trace), "data": data, "work": work,
            "warmup": WARMUP,
            "min_ops": LAKE_MIN_OPS if workload == "lakehouse" else 0}
    if workload == "olap_mix":
        with open(os.path.join(HERE, "olap_costs.json")) as fh:
            costs = json.load(fh)
        plan["cycles"] = olap_cycles(rng, olap_pool(registry), costs)
    elif workload == "olap_hot":
        plan["warm"] = rng.sample(HOT_QUERIES, len(HOT_QUERIES))
        plan["passes"] = [rng.sample(HOT_QUERIES, len(HOT_QUERIES))
                          for _ in range(100)]
    else:
        n = datagen.sizes(WORKLOADS[workload]["sf"])
        plan["lake"] = {
            "loads": LAKE_LOADS, "keys": n["orders"],
            "cycles": lake_cycles(rng, n["orders"], n["customer"], 300)}
    return plan


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def run_jvm(plan_path, work, classpath, timeout):
    log = os.path.join(work, "jvm.log")
    # a fixed heap size, so the collector sizes its spaces alike in every
    # run; pages are backed only as the program touches them
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn1g",
           "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m",
           *build.ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "graft.perfbench.Main", "run", plan_path]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=fh,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({code})")
    with open(log) as fh:
        bad = [ln for ln in fh if ln.startswith("[perfbench]")]
    sys.stderr.writelines(bad[:20])
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    os.makedirs(build.OUT, exist_ok=True)
    classpath = build.build()
    registry = build.registry()

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build.OUT, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cfg = WORKLOADS[args.workload]
        data = os.path.join(work, "data")
        t0 = time.time()
        datagen.generate(data, args.seed, cfg["sf"], cfg["tables"],
                         tmp=os.path.join(work, "tmp"))
        phases = {"datagen_s": time.time() - t0}
        plan = make_plan(args.workload, args.seed, args.seconds, args.trace,
                         registry, data, work)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        load0 = loadavg()
        t0 = time.time()
        result = run_jvm(plan_path, work, classpath,
                         timeout=max(120.0, 2 * args.seconds + 100))
        phases["jvm_s"] = time.time() - t0
        load1 = loadavg()
        # answers of the olap workloads against the DuckDB oracle
        t0 = time.time()
        wrong = oracle.check_answers(os.path.join(work, "answers"), data,
                                     registry, tmp=os.path.join(work, "tmp"))
        phases["oracle_s"] = time.time() - t0
        for q, err in sorted(wrong.items()):
            sys.stderr.write(f"[perfbench] oracle {q}: {err}\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    attempted, failed = stats.failures(ops, wrong)
    extra = result["extra"]
    attempted += extra.get("warm_ops", 0)
    failed += extra.get("warm_failed", 0)
    final_ok = extra.get("final_ok", True)
    if not final_ok:
        failed += 1
        attempted += 1
        sys.stderr.write(f"[perfbench] final snapshot: {extra['final_error']}\n")
    e2e, notes = stats.end_to_end(ops, result, wrong)
    if "space_amp" in extra:
        e2e["space_amp"] = extra["space_amp"]
    e2e["failed_frac"] = failed / attempted
    spin = result["spin_s"]
    host = {"spin_s": spin, "loadavg": [load0, load1], "cores": cores(),
            "nproc": os.cpu_count(), **phases}
    host["unsteady"] = (max(spin) > 1.3 * min(spin) or
                        max(load0, load1) > 2 * (os.cpu_count() or 1))
    layers = stats.per_layer(ops, result, wrong) if args.trace else {}
    artifact = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "k": cores(), "attempted": attempted, "failed": failed,
                "end_to_end": e2e, "notes": notes, "per_layer": layers,
                "host": host, "extra": extra,
                "self_time_s": stats.self_time_table(result["spans"]),
                "ops": ops}
    os.makedirs(os.path.join(build.OUT, "results"), exist_ok=True)
    with open(os.path.join(build.OUT, "results", name + ".json"), "w") as fh:
        json.dump(artifact, fh)

    units = dict(stats.UNITS)
    units.update((m["name"], m["unit"])
                 for m in spec["end_to_end"] + spec["per_layer"])
    print(f"workload {args.workload} seed {args.seed} k={cores()} "
          f"ops={len(ops)} attempted={attempted} failed={failed}")
    for k, v in sorted(e2e.items()):
        print(f"  {k:<28} {v:>14.6g} {units.get(k, '')}")
    for k, v in sorted(notes.items()):
        print(f"  {k:<28} {v:>14}")
    for k, v in sorted(layers.items()):
        print(f"  {k:<34} {v:>14.6g} {units.get(k, '')}")
    print(f"  host spin_s={spin} loadavg={[load0, load1]} "
          f"unsteady={host['unsteady']}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
