"""Arithmetic over one raw run record written by perfbench.Runner.

Everything the benchmark reports is computed here from the record, so the
arithmetic can be tested without a JVM (see test_report.py). Run as a script
over saved run records it prints each end-to-end metric's median and spread.

Record layout (all times in seconds unless named *_ns):
  laps:   [{lap, wall_s, cpu_s, gc_s, cached_mb, persistent_rdds,
            edge_cache_dirs, ops: [{name, s, ok, rows, meter?}]}]
          lap 0 is the warm-up lap and is never measured.
  spans:  [[id, name, parent, lap, op, t0_ns, t1_ns]]   (traced runs)
  tasks:  [[span, stage, attempt, ms, cpu_ns, gc_ms, input_b, shuffle_write_b,
            shuffle_read_b, spill_b, output_b]]          (traced runs)
"""
import json
import statistics
import sys

MB = 1048576.0
# nearest-rank percentiles the tail is chosen from
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
TASK_FIELDS = ("ms", "cpu_ns", "gc_ms", "input_b", "shuffle_write_b",
               "shuffle_read_b", "spill_b", "output_b")


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q2, q3) as statistics.quantiles(n=4) gives them."""
    return tuple(statistics.quantiles(xs, n=4))


def rank_value(xs, p):
    """Nearest-rank p-th percentile of xs and the number of samples above it."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    k = int(k)
    return s[k - 1], len(s) - k


def tail(xs, ladder=TAIL_LADDER, beyond=10):
    """Highest ladder percentile with at least `beyond` samples above it.

    Returns (percentile, value, n). With too few samples for any rung the
    lowest rung is returned; the caller records n so the reader can tell.
    """
    best = None
    for p in ladder:
        v, above = rank_value(xs, p)
        if above >= beyond:
            best = (p, v)
    if best is None:
        best = (ladder[0], rank_value(xs, ladder[0])[0])
    return best[0], best[1], len(xs)


def span_table(record):
    """id -> dict(name, parent, lap, op, t0, t1) for the record's spans."""
    return {s[0]: dict(name=s[1], parent=s[2], lap=s[3], op=s[4], t0=s[5], t1=s[6])
            for s in record.get("spans", [])}


def attribute(record, spans):
    """id -> summed counters of every task attributed to the span or to any
    of its descendants, with the task count and the set of stages."""
    inc = {i: dict.fromkeys(TASK_FIELDS, 0) for i in spans}
    for i in inc:
        inc[i]["tasks"] = 0
        inc[i]["stages"] = set()
    for t in record.get("tasks", []):
        sid, stage = t[0], t[1]
        vals = dict(zip(TASK_FIELDS, t[3:]))
        while sid in inc:
            c = inc[sid]
            for f in TASK_FIELDS:
                c[f] += vals[f]
            c["tasks"] += 1
            c["stages"].add((stage, t[2]))
            sid = spans[sid]["parent"]
    return inc


def task_skew(record, span_ids, min_tasks=4):
    """Largest max/median task time over stages (with >= min_tasks tasks) of
    tasks attributed to any of span_ids; 1.0 when no stage qualifies."""
    by_stage = {}
    for t in record.get("tasks", []):
        if t[0] in span_ids:
            by_stage.setdefault((t[1], t[2]), []).append(t[3])
    worst = 1.0
    for ms in by_stage.values():
        if len(ms) >= min_tasks:
            med = median(ms)
            if med > 0:
                worst = max(worst, max(ms) / med)
    return worst


def descendants(spans, root):
    kids = {}
    for i, s in spans.items():
        kids.setdefault(s["parent"], []).append(i)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def measured_laps(record):
    """Every lap but the warm-up lap 0."""
    return [l for l in record["laps"] if l["lap"] > 0]


def end_to_end(record):
    """The end-to-end metrics of one run, plus the tail's percentile and
    sample count."""
    laps = measured_laps(record)
    ops = [o["s"] for l in laps for o in l["ops"]]
    lap_s = median([l["wall_s"] for l in laps])
    p, tail_v, n = tail(ops)
    return {
        "setup_s": record["session_s"] + median(record["setup_rounds"]),
        "lap_s": lap_s,
        "op_p50_s": median(ops),
        "op_tail_s": tail_v,
        "docs_per_s": record["docs"] / lap_s,
        "cpu_s_per_lap": median([l["cpu_s"] for l in laps]),
        "cached_mb": max(l["cached_mb"] for l in laps),
    }, {"op_samples": n, "op_tail_percentile": p, "laps": len(laps)}


def _by_name(spans, name):
    return [i for i, s in spans.items() if s["name"] == name]


def _dur(spans, ids):
    return sum((spans[i]["t1"] - spans[i]["t0"]) / 1e9 for i in ids)


def _sum(inc, ids, field):
    return sum(inc[i][field] for i in ids)


def per_layer(record):
    """Every per-layer metric this traced run measured, by name."""
    spans = span_table(record)
    inc = attribute(record, spans)
    out = {}
    laps = measured_laps(record)
    lap_roots = {s["lap"]: i for i, s in spans.items() if s["name"] == "lap"}

    # per-lap totals
    per_lap = []
    for l in laps:
        root = lap_roots[l["lap"]]
        ids = descendants(spans, root)
        c = inc[root]
        per_lap.append({
            "spark.shuffle_write_mb": c["shuffle_write_b"] / MB,
            "spark.input_mb": c["input_b"] / MB,
            "spark.spill_mb": c["spill_b"] / MB,
            "spark.stages": float(len(c["stages"])),
            "spark.tasks": float(c["tasks"]),
            "spark.executor_cpu_s": c["cpu_ns"] / 1e9,
            "jvm.gc_s": l["gc_s"],
            "spark.task_skew": task_skew(record, ids),
        })
    for k in per_lap[0]:
        out[k] = median([x[k] for x in per_lap])
    last = laps[-1]
    out["plans.persistent_rdds_after_release"] = float(last["persistent_rdds"])
    out["plans.edge_cache_dirs_after_release"] = float(last["edge_cache_dirs"])

    # per-op p50 and loop rounds
    prefix = {"kg_query": "kg.q.", "corpus_ops": "queries."}.get(record["workload"])
    for o in laps[0]["ops"] if prefix else ():
        out[prefix + o["name"] + "_s"] = median(
            [x["s"] for l in laps for x in l["ops"] if x["name"] == o["name"]])
    for l in laps:
        for o in l["ops"]:
            if "meter" in o:
                out[o["meter"][0]] = float(o["meter"][1])

    # shared-leaf builds: median over the set-up rounds
    for i, s in spans.items():
        if s["name"].startswith("plans.build."):
            d = [_dur(spans, [j]) for j in _by_name(spans, s["name"])]
            out[s["name"] + "_s"] = median(d)

    if record["workload"] == "kg_build":
        out.update(kg_build_split(record, spans, inc))
    return out


def kg_build_split(record, spans, inc):
    """Layer split of kg_build from the probes: each build layer's self
    figure is its prefix minus the prefixes it extends. Per month the probes
    time decode, parse, enrich and the triple build, then commit that same
    build (its own span); one read of the probe table follows."""
    def tot(name, field=None):
        ids = _by_name(spans, name)
        return _dur(spans, ids) if field is None else _sum(inc, ids, field)

    def self_of(field, scale, big, *small):
        return (tot(big, field) - sum(tot(s, field) for s in small)) / scale

    dec = ("probe.decode.days", "probe.decode.articles")
    par = ("probe.parse.days", "probe.parse.articles")
    emit_in = ("probe.parse.days", "probe.enrich")
    o = {
        "kg.decode.s": sum(tot(n) for n in dec),
        "kg.decode.input_mb": sum(tot(n, "input_b") for n in dec) / MB,
        "kg.parse.self_s": sum(tot(n) for n in par) - sum(tot(n) for n in dec),
        "kg.enrich.self_s": self_of(None, 1, "probe.enrich", "probe.parse.articles"),
        "kg.enrich.executor_cpu_s": self_of("cpu_ns", 1e9, "probe.enrich", "probe.parse.articles"),
        "kg.enrich.shuffle_mb": self_of("shuffle_write_b", MB, "probe.enrich", "probe.parse.articles"),
        "kg.emit.self_s": self_of(None, 1, "probe.emit", *emit_in),
        "kg.emit.executor_cpu_s": self_of("cpu_ns", 1e9, "probe.emit", *emit_in),
        "kg.emit.shuffle_mb": self_of("shuffle_write_b", MB, "probe.emit", *emit_in),
        "emit.commit.self_s": tot("probe.commit"),
        "emit.commit.write_mb": tot("probe.commit", "output_b") / MB,
        "emit.read.s": tot("probe.read"),
    }
    for k in ("kg.parse.rows", "kg.emit.triples", "kg.enrich.useful_ratio",
              "emit.commit.files"):
        o[k] = float(record["probes"][k])
    return o


def spread(values):
    """(median, (q3 - q1) / median): the run-to-run spread the bounds in
    BENCHMARK.json are checked against."""
    q1, med, q3 = quartiles(values)
    return median(values), (q3 - q1) / median(values)


if __name__ == "__main__":
    # python3 perfbench/report.py perfbench/target/records/kg_build-seed*-trace0.json
    runs = {}
    for path in sys.argv[1:]:
        with open(path) as f:
            r = json.load(f)
        for k, v in r["end_to_end"].items():
            runs.setdefault((r["workload"], k), []).append(v)
    for (w, k), vs in sorted(runs.items()):
        m, sp = spread(vs)
        print(f"{w:12s} {k:15s} n={len(vs):2d} median={m:.4f} spread={sp:.4f}")
