"""Turn a driver record into checked operations and metrics.

The driver (`graftbench.Main`) writes raw measurements: spans (pass →
query → construct / write / release), one record per operation with its
output digest and product builds, and, in a traced run, Spark's job, task
and SQL-action events. This module checks the outputs and derives the
end-to-end and per-layer metrics from that record, so each derivation is
plain arithmetic a test can pin.
"""
import statistics

MB = 1e6


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- checking --

def check(record, expected):
    """Mark every timed operation ok or failed and return
    (attempted, failed, reasons). An operation fails if it raised, if it
    built a product (timed passes only serve them), or if its output
    differs from the expected one."""
    reasons = []
    attempted = failed = 0
    for op in record["ops"]:
        if op["phase"] != "timed":
            continue
        attempted += 1
        why = _why_wrong(op, expected)
        op["correct"] = why is None
        if why:
            failed += 1
            reasons.append("pass %d %s: %s" % (op["pass"], op["query"], why))
    return attempted, failed, reasons


def _why_wrong(op, expected):
    q = op["query"]
    if not op.get("ok"):
        return "raised " + op.get("error", "?")
    if op.get("builds"):
        return "a timed pass built products %s" % sorted(op["builds"])
    if q == "wordcount":
        if op["rows"] != expected["unique"]:
            return "unique %d != %d" % (op["rows"], expected["unique"])
        if op["topk"] != expected["topk"]:
            return "top-20 block differs from the tally"
        if op["hash"] != expected["tsv_sha256"]:
            return "TSV sink differs from the tally"
        return None
    exp = expected.get(q, {})
    if "hash" not in exp:
        return "no expected digest (oracle: %s)" % exp.get("error", "missing")
    if op["hash"] != exp["hash"]:
        return "rows differ from the oracle (%d rows, oracle %d)" % (
            op.get("rows", -1), exp.get("rows", -1))
    return None


# -------------------------------------------------------------- metrics --

def passes(record):
    """{pass: [ops]} for the timed passes."""
    out = {}
    for op in record["ops"]:
        if op["phase"] == "timed":
            out.setdefault(op["pass"], []).append(op)
    return out


def pass_wall(ops):
    return sum(op["wall_s"] for op in ops)


def end_to_end(record, input_mb):
    """The user-visible metrics of an untraced run."""
    wall = median(pass_wall(ops) for ops in passes(record).values())
    return {
        "setup_s": record["setup_s"],
        "wall_s": wall,
        "mb_per_s": input_mb / wall if wall else 0.0,
    }


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Trace:
    """Index of a traced record's spans and Spark events."""

    def __init__(self, record):
        self.spans = {s[0]: {"id": s[0], "parent": s[1], "name": s[2],
                             "query": s[3], "start": s[4], "end": s[5]}
                      for s in record["spans"]}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        ev = record.get("events") or {"jobs": [], "tasks": [], "actions": [],
                                      "task_fields": []}
        self.jobs_by_group = {}
        self.job_of_stage = {}
        for j in ev["jobs"]:
            self.jobs_by_group.setdefault(j["group"], []).append(j)
            for st in j["stages"]:
                self.job_of_stage[st] = j
        f = {name: i for i, name in enumerate(ev["task_fields"])}
        self.tasks_by_group = {}
        for t in ev["tasks"]:
            job = self.job_of_stage.get(t[f["stage"]])
            if job is not None:
                self.tasks_by_group.setdefault(job["group"], []).append(
                    {k: t[i] for k, i in f.items()})
        self.actions = ev["actions"]

    def child(self, span, name):
        for c in self.children.get(span["id"], []):
            if c["name"] == name:
                return c
        return None

    def terminal_phases(self, wr):
        """[start, end] of every tracker phase (analysis, optimization,
        planning) of the SQL actions the terminal action ran: the actions
        whose last phase ended inside the write span `wr`. Spark analyzes
        a DataFrame when it is built, so the collected DataFrame's
        analysis lies in the construct span."""
        out = []
        for a in self.actions:
            if not a["phases"]:
                continue
            last = max(ph["end"] for ph in a["phases"])
            if wr["start"] <= last + 1 and last <= wr["end"] + 1:
                out += [(ph["start"], ph["end"]) for ph in a["phases"]]
        return out


def op_layers(tr, op):
    """Per-layer figures of one traced operation."""
    q = tr.spans[op["span"]]
    con = tr.child(q, "construct")
    wr = tr.child(q, "write")
    rel = tr.child(q, "release")
    dur = lambda s: (s["end"] - s["start"]) / 1000.0 if s else 0.0
    group = "%s-%d-%s" % (op["phase"], op["pass"], op["query"])
    jobs = tr.jobs_by_group.get(group, [])
    tasks = tr.tasks_by_group.get(group, [])
    con_end = con["end"] if con else q["start"]
    con_jobs = [j for j in jobs if j["start"] <= con_end]
    exec_jobs = [j for j in jobs if wr and wr["start"] <= j["start"] <= wr["end"]]
    con_busy = union_ms([(j["start"], j["end"]) for j in con_jobs],
                        con["start"], con["end"]) / 1000.0 if con else 0.0
    # Catalyst time of the terminal action, split by the span it fell in.
    phases = tr.terminal_phases(wr) if wr else []
    cat_con = union_ms(phases, con["start"], con["end"]) / 1000.0 if con else 0.0
    cat_wr = union_ms(phases, wr["start"], wr["end"]) / 1000.0 if wr else 0.0
    stages = {t["stage"] for t in tasks}
    task_s = sum(t["run_ms"] for t in tasks) / 1000.0
    busy = union_ms([(t["launch"], t["finish"]) for t in tasks],
                    q["start"], q["end"])
    out = {
        "wall_s": op["wall_s"],
        "construct.s": dur(con) - cat_con,
        "construct.jobs": len(con_jobs),
        "construct.driver_s": dur(con) - cat_con - con_busy,
        "catalyst.s": cat_con + cat_wr,
        "exec.s": dur(wr) - cat_wr,
        "exec.jobs": len(exec_jobs),
        "caching.release_s": dur(rel),
        "caching.persists_left": op.get("persists_left", 0),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.task_s": task_s,
        "spark.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.input_mb": sum(t["in_bytes"] for t in tasks) / MB,
        "spark.shuffle_write_mb": sum(t["sw_bytes"] for t in tasks) / MB,
        "spark.shuffle_read_mb": sum(t["sr_bytes"] for t in tasks) / MB,
        "spark.spill_mb": sum(t["spill_bytes"] for t in tasks) / MB,
        "spark.idle_s": dur(q) - busy / 1000.0,
    }
    if op["query"] == "wordcount" and wr:
        # Report.main's three actions; the combine ratio's numerator is
        # the shuffle records the count job's map side wrote.
        cnt = tr.child(wr, "report.count")
        out["report.count_s"] = dur(cnt)
        out["report.topk_s"] = dur(tr.child(wr, "report.topk"))
        out["report.tsv_s"] = dur(tr.child(wr, "report.tsv"))
        out["report.shuffle_records"] = sum(
            t["sw_records"] for t in tasks
            if cnt and cnt["start"] <= tr.job_of_stage[t["stage"]]["start"] <= cnt["end"])
    return out


def unit(name):
    """The unit of a metric, from its name."""
    if name == "mb_per_s":
        return "MB/s"
    for suffix, u in (("_ratio", "ratio"), ("core_util", "ratio"),
                      ("trace_overhead", "ratio"), ("_mb", "MB"), ("_s", "s"),
                      (".s", "s")):
        if name.endswith(suffix):
            return u
    return "count"


LAYER_SUMS = ("construct.s", "construct.jobs", "construct.driver_s",
              "catalyst.s", "exec.s", "exec.jobs", "caching.release_s",
              "caching.persists_left", "spark.stages", "spark.tasks",
              "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.input_mb",
              "spark.shuffle_write_mb", "spark.shuffle_read_mb",
              "spark.spill_mb", "spark.idle_s", "report.count_s",
              "report.topk_s", "report.tsv_s")

def per_layer_names(workloads):
    """Every per-layer metric of runs of `workloads`: the layer sums,
    derived ratios, set-up parts, per-product build seconds and the
    per-query figures of the workloads' queries."""
    names = list(LAYER_SUMS) + [
        "report.combine_ratio", "spark.core_util", "products.builds",
        "products.build_s", "products.dup_builds",
        "setup.session_s", "setup.prepass_s", "setup.products_s",
        "trace_overhead", "failed_ratio", "products_mb", "peak_rss_mb",
        "timed_passes"]
    for wl in workloads:
        names += ["p.%s.build_s" % p for p in wl.get("products", [])]
    for wl in workloads:
        for q in wl.get("queries", []):
            names.append("q.%s.wall_s" % q)
            if wl["kind"] == "warm":
                names += ["q.%s.construct_jobs" % q, "q.%s.idle_s" % q]
    return names


def build_figures(ops):
    """products.builds / build_s / dup_builds and per-product seconds
    (`p.<name>.build_s`) of the product builds the given operations paid,
    as `ArtifactCache` timed them (a build nested in another's counts in
    both). A dup build is a build of a product directory an earlier
    operation of the same set built."""
    recs = [(d, sec) for op in ops for d, sec in op.get("builds", {}).items()]
    out = {"products.builds": len(recs),
           "products.build_s": sum(sec for _, sec in recs),
           "products.dup_builds": len(recs) - len({d for d, _ in recs})}
    for d, sec in recs:
        key = "p.%s.build_s" % product_name(d)
        out[key] = out.get(key, 0.0) + sec
    return out


def per_layer(record, expected, cpus, attempted, failed, products_mb,
              workloads):
    """The per-layer metrics of a traced run: each layer summed over the
    operations of a traced pass, then the median over traced passes."""
    tr = Trace(record)
    by_pass = passes(record)

    def traced_passes(traced):
        return [ops for _, ops in sorted(by_pass.items())
                if ops[0]["traced"] == traced]

    per_pass, per_query = [], {}
    for ops in traced_passes(True):
        lays = [op_layers(tr, op) for op in ops]
        sums = {k: sum(l.get(k, 0.0) for l in lays) for k in LAYER_SUMS}
        wall = pass_wall(ops)
        sums["spark.core_util"] = sums["spark.task_s"] / (wall * cpus) if wall else 0.0
        records = sum(l.get("report.shuffle_records", 0) for l in lays)
        sums["report.combine_ratio"] = (records / expected["tokens"]
                                        if expected.get("tokens") else 0.0)
        sums.update(build_figures(ops))
        per_pass.append(sums)
        for op, lay in zip(ops, lays):
            per_query.setdefault(op["query"], []).append(lay)
    out = {k: median(p[k] for p in per_pass) for k in per_pass[0]} if per_pass else {}
    # Set-up: session start and the pass over the real input, with the
    # product builds it paid (on a warm workload, all of them).
    for name in ("session", "prepass"):
        out["setup.%s_s" % name] = sum((s["end"] - s["start"]) / 1000.0
                                       for s in tr.spans.values()
                                       if s["name"] == "setup." + name)
    prepass = build_figures([op for op in record["ops"] if op["phase"] == "prepass"])
    out["setup.products_s"] = prepass["products.build_s"]
    if record["kind"] == "warm":
        out.update({k: v for k, v in prepass.items() if k.startswith("p.")})
    # Untraced reference: the untraced passes after the first (JIT-coldest).
    walls = {t: median(pass_wall(ops) for ops in traced_passes(t)
                       if t or ops[0]["pass"] > 0)
             for t in (True, False)}
    out["trace_overhead"] = (walls[True] / walls[False] - 1.0
                             if walls[True] and walls[False] else 0.0)
    out["failed_ratio"] = failed / attempted if attempted else 1.0
    out["products_mb"] = products_mb
    out["peak_rss_mb"] = record["vmhwm_kb"] / 1024.0
    out["timed_passes"] = len(by_pass)
    for q, lays in per_query.items():
        out["q.%s.wall_s" % q] = median(l["wall_s"] for l in lays)
        if record["kind"] == "warm":
            out["q.%s.construct_jobs" % q] = median(l["construct.jobs"] for l in lays)
            out["q.%s.idle_s" % q] = median(l["spark.idle_s"] for l in lays)
    return {k: float(out.get(k, 0.0)) for k in per_layer_names(workloads)}


def spans_with_self(record):
    """The run's spans with each one's self time: its duration less the
    durations of its child spans."""
    spans = [{"id": s[0], "parent": s[1], "name": s[2], "query": s[3],
              "start_ms": s[4], "end_ms": s[5]} for s in record["spans"]]
    child_ms = {}
    for s in spans:
        child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
    for s in spans:
        s["self_s"] = (s["end_ms"] - s["start_ms"] - child_ms.get(s["id"], 0.0)) / 1000.0
    return spans


def product_name(dirname):
    """`<name>-<key>` product directory → product name."""
    return dirname.rsplit("-", 1)[0]
