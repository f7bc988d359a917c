"""Statistics for the benchmark: the percentile rule, span arithmetic, and
the end-to-end and per-layer metrics computed from one run record (the
JSON the measuring JVM writes; see Main.scala)."""
import math
import statistics

MB = 1048576.0


def percentile(values, p, min_beyond=10):
    """Nearest-rank ``p``-th percentile of ``values``, or None unless at
    least ``min_beyond`` samples lie beyond it (a tail percentile with
    fewer samples past it is a guess, not a measurement)."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def union_s(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    cut = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            cut.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(cut):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - union_s(children, start, end)


def span_tree(record):
    """Spans of the traced passes with Spark jobs attached as leaves, each
    with its self time (ms). A job hangs under the call span (registry
    construct/consume, Pipeline.run) that contains its start, else under
    its op, found through the job group the benchmark set."""
    spans = [dict(s) for s in record["spans"]]
    by_op = {}
    for s in spans:
        if s["parent"]:
            by_op.setdefault(s["parent"], []).append(s)
    for j in record["jobs"]:
        if j["end_ms"] < 0 or not j["group"]:
            continue
        parent = j["group"]
        for c in by_op.get(j["group"], []):
            if c["start_ms"] <= j["start_ms"] <= c["end_ms"]:
                parent = c["id"]
                break
        spans.append({"id": f"job-{j['id']}", "parent": parent,
                      "name": f"job:{j['module']}",
                      "start_ms": float(j["start_ms"]),
                      "end_ms": float(j["end_ms"])})
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        s["self_ms"] = self_time((s["start_ms"], s["end_ms"]),
                                 kids.get(s["id"], []))
    return spans


def end_to_end(record, pair_ops):
    """Untraced-run metrics: a dict name -> (value, unit); a metric that
    does not apply to the workload is absent."""
    ops = record["ops"]
    ok = [o for o in ops if o["ok"]]
    lat = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ok]
    m = {"setup_s": (record["setup_s"], "s"),
         "ops_per_s": (len(ok) / record["timed_s"], "ops/s"),
         "cpu_s_per_op": (record["timed_cpu_s"] / max(1, len(ok)), "s"),
         "op_p50_s": (statistics.median(lat) if lat else float("nan"), "s"),
         "failed_frac": ((len(ops) - len(ok)) / max(1, len(ops)), "ratio"),
         "heap_retained_mb": (record["heap_retained_mb"], "MB")}
    p90 = percentile(lat, 90)
    if p90 is not None:
        m["op_p90_s"] = (p90, "s")
    rounds = [o for o in ops if o["name"] == "collab_round" and o["rmse"] is not None]
    if rounds:
        m["rmse"] = (rounds[-1]["rmse"], "")
    pairs = [o for o in ok if o["name"] in pair_ops]
    if pairs:
        secs = sum((o["end_ms"] - o["start_ms"]) / 1000.0 for o in pairs)
        m["pairs_per_s"] = (sum(o["rows"] for o in pairs) / secs, "rows/s")
    return m


def per_layer(record, pair_ops, modules, setup_entries, ingest_rows):
    """Traced-run metrics: a dict name -> (value, unit) over the traced
    passes. Counts, bytes and times are per op unless the name says
    otherwise; layers a workload does not use read 0."""
    traced = [o for o in record["ops"] if o["traced"]]
    n = max(1, len(traced))
    jobs = [j for j in record["jobs"] if j["end_ms"] >= 0]
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    spans = {s["id"]: s for s in record["spans"]}
    m = {}

    def iv(js):
        return [(j["start_ms"], j["end_ms"]) for j in js]

    # collab: jobs inside Pipeline.run, attributed by the stack's modules
    pipe = [spans[f"op-{o['idx']}/pipeline"] for o in traced
            if f"op-{o['idx']}/pipeline" in spans]
    rounds = max(1, len(pipe))
    pjobs = [(s, [j for j in by_group.get(s["parent"], [])
                  if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]) for s in pipe]

    def layer(mod):
        return [(s, [j for j in js if mod in j["modules"]]) for s, js in pjobs]

    def layer_s(mod):
        return sum(union_s(iv(js)) for _, js in layer(mod)) / 1000.0 / rounds

    ingest_s = layer_s("collab.Ingest")
    m["collab.Ingest.s"] = (ingest_s, "s")
    m["collab.Ingest.rows_per_s"] = (
        ingest_rows / ingest_s if pipe and ingest_s > 0 else 0.0, "rows/s")
    m["collab.TableStore.write_mb"] = (sum(
        j["output_bytes"] for _, js in layer("collab.TableStore") for j in js)
        / MB / rounds, "MB")
    m["collab.TableStore.read_mb"] = (sum(
        j["input_bytes"] for _, js in pjobs for j in js
        if "collab.Ingest" not in j["modules"]) / MB / rounds, "MB")
    m["collab.Training.s"] = (layer_s("collab.Training"), "s")
    m["collab.Training.jobs"] = (sum(
        len(js) for _, js in layer("collab.Training")) / rounds, "count")
    m["collab.Training.shuffle_mb"] = (sum(
        j["shuffle_write_bytes"] for _, js in layer("collab.Training")
        for j in js) / MB / rounds, "MB")
    m["collab.Validation.s"] = (layer_s("collab.Validation"), "s")
    m["collab.Report.s"] = (layer_s("collab.Report"), "s")

    # registry calls
    calls = [s for s in record["spans"]
             if s["name"] in ("registry.construct", "registry.consume")]
    for name in ("registry.construct", "registry.consume"):
        mine = [s for s in calls if s["name"] == name]
        m[name + "_s"] = (sum(s["end_ms"] - s["start_ms"] for s in mine)
                          / 1000.0 / max(1, len(mine)), "s")

    # engine, per op
    injob = driver = 0.0
    for o in traced:
        js = by_group.get(f"op-{o['idx']}", [])
        u = union_s(iv(js), o["start_ms"], o["end_ms"])
        injob += u
        driver += (o["end_ms"] - o["start_ms"]) - u
    qes = [q for q in record["qes"]
           if any(o["start_ms"] <= q["start_ms"] <= o["end_ms"] for o in traced)]
    opjobs = [j for o in traced for j in by_group.get(f"op-{o['idx']}", [])]
    m["spark.plan_s"] = (sum(q["plan_ms"] for q in qes) / 1000.0 / n, "s")
    m["spark.driver_s"] = (driver / 1000.0 / n, "s")
    m["spark.injob_s"] = (injob / 1000.0 / n, "s")
    m["spark.jobs"] = (len(opjobs) / n, "count")
    m["spark.tasks"] = (sum(j["tasks"] for j in opjobs) / n, "count")
    m["spark.shuffle_write_mb"] = (
        sum(j["shuffle_write_bytes"] for j in opjobs) / MB / n, "MB")
    m["spark.shuffle_records"] = (
        sum(j["shuffle_records"] for j in opjobs) / n, "count")
    m["spark.spill_mb"] = (sum(j["spill_bytes"] for j in opjobs) / MB / n, "MB")
    m["spark.input_mb"] = (sum(j["input_bytes"] for j in opjobs) / MB / n, "MB")
    for key, name in (("exchanges", "plan.exchanges"), ("smj", "plan.smj"),
                      ("bhj", "plan.bhj"),
                      ("reused_exchanges", "plan.reused_exchanges"),
                      ("checkpoint_scans", "plan.checkpoint_scans")):
        m[name] = (sum(q[key] for q in qes) / n, "count")

    # pair emitters
    pairs = [o for o in traced if o["name"] in pair_ops and o["ok"]]
    prows = sum(o["rows"] for o in pairs)
    precs = sum(j["shuffle_records"] for o in pairs
                for j in by_group.get(f"op-{o['idx']}", []))
    m["pairs.output_rows"] = (prows / max(1, len(pairs)), "count")
    m["pairs.yield"] = (prows / precs if precs else 0.0, "ratio")

    # per module in-job time (innermost engine frame on the job's stack)
    for mod in modules:
        mine = [j for j in opjobs if j["module"] == mod]
        m[f"{mod}.injob_s"] = (union_s(iv(mine)) / 1000.0 / n, "s")

    m["caching.storage_mb"] = (max([o["storage_mb"] for o in traced] or [0.0]), "MB")
    m["caching.persisted_rdds"] = (
        max([o["persisted_rdds"] for o in traced] or [0]), "count")

    entries = record["setup_entries"]
    for e in ["session", "parity"] + list(setup_entries):
        m[f"setup.{e}_s"] = (entries.get(e, 0.0), "s")

    m["jvm.gc_s"] = (record["gc_s"], "s")
    m["jvm.heap_peak_mb"] = (record["heap_peak_mb"], "MB")

    # pass 0 (untraced) carries every op's first execution; compare warm
    # passes only
    walls = {True: [], False: []}
    for p in record["passes"][1:]:
        walls[p["traced"]].append(p["wall_s"])
    if walls[True] and walls[False]:
        base = statistics.mean(walls[False])
        m["trace.overhead_pct"] = (
            100.0 * (statistics.mean(walls[True]) - base) / base, "%")
    else:
        m["trace.overhead_pct"] = (0.0, "%")
    return m
