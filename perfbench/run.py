#!/usr/bin/env python3
"""The engine's benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the root of a checkout. The first run builds the engine and the
measuring JVM with sbt (perfbench/build.sbt) and generates the harness
tables (gen.py); later runs reuse both. Each run then gets its own temp
root under perfbench/.runs/, starts one JVM (Main.scala) on `local[4]`,
and deletes the root when the JVM has exited.

Output: a human-readable table of every metric with its unit, then, as
the last line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the BENCHMARK.json ``end_to_end`` metrics with
``--trace 0``, the ``per_layer`` ones with ``--trace 1``). The full run
record — every op, the machine fingerprint, and with tracing the span tree
— is written to perfbench/.runs/records/.

Other modes:
    --smoke              sf0.001 tables, one timed pass (two with --trace 1)
                         after the workload's warm-up passes (the
                         benchmark's own test)
    --wrong-expectation  corrupt one expected hash (must count as a failure)
    --record-expect F    run one pass unchecked and write observed
                         row counts and hashes to F (expectation refresh)
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

SMOKE_SCALE = 0.001
DATA_SEED = 42
CPUS = 4
HEAP = "4g"
BUILD_BUDGET_S = 900
RUN_BUDGET_S = 180
MAX_TIMED_S = 120
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Machine load snapshot: graft.Bench's fingerprint fields plus the
    cumulative CPU steal time."""
    try:
        with open("/proc/loadavg") as f:
            la = [float(x) for x in f.read().split()[:3]]
    except OSError:
        la = [-1.0, -1.0, -1.0]
    try:
        procs = sum(1 for d in os.listdir("/proc") if d.isdigit())
    except OSError:
        procs = -1
    try:
        with open("/proc/stat") as f:
            # cumulative CPU time taken by the hypervisor from this host
            steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        steal = -1.0
    return {"loadavg_1m": la[0], "loadavg_5m": la[1], "loadavg_15m": la[2],
            "n_procs": procs, "cpus": os.cpu_count(), "steal_s": steal}


def source_stamp():
    """Hash of every file the build compiles or reads."""
    h = hashlib.sha256()
    roots = [os.path.join(CHECKOUT, "src", "main"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(CHECKOUT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(p[len(CHECKOUT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns (classpath, built)."""
    out = os.path.join(HERE, ".build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S - 60).returncode
    with open(log) as f:
        # the exported classpath is the last line naming our classes dir
        cps = [l.strip() for l in f if "perfbench/target" in l and ".jar" in l]
    if rc != 0 or not cps:
        fail(f"build failed (sbt exit {rc}); see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], True


def ensure_tables(scale):
    """Harness tables at ``scale``, generated once per generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(HERE, ".data", f"sf{scale}-{DATA_SEED}-{version}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp, scale, DATA_SEED)
        os.rename(tmp, d)
    return d


def plan(ops, seed, n_passes):
    """Per-pass op order: pass p is the op cycle shifted by a seed-drawn
    offset. A cyclic shift keeps each op's neighbours, so costs that
    depend on the previous op (the blocks it left for SparkEntry.fresh to
    release) do not change with the seed; which op runs first, and so
    pays the JVM's first-use costs, does."""
    rng = random.Random(seed)
    passes = []
    for _ in range(n_passes):
        k = rng.randrange(len(ops))
        passes.append(list(ops[k:]) + list(ops[:k]))
    return passes


def du_mb(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total / stats.MB


def expectations(cfg, scale, ops, wrong):
    src = os.path.join(HERE, cfg["expect"][str(scale)])
    if not wrong:
        return src, None
    with open(src) as f:
        lines = f.read().splitlines()
    for i, l in enumerate(lines):
        name, rows, h = l.split("\t")
        if name in ops:
            lines[i] = f"{name}\t{rows}\t{int(h) + 1}"
            return lines, name
    fail("no registry op to plant a wrong expectation on")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--wrong-expectation", action="store_true")
    ap.add_argument("--record-expect")
    a = ap.parse_args()

    engine = os.path.join(CHECKOUT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not (os.path.isfile(engine) and os.path.isfile(os.path.join(CHECKOUT, "build.sbt"))):
        fail("engine sources not found next to the benchmark; run from a checkout")
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}; have {sorted(cfg['workloads'])}")
    w = cfg["workloads"][a.workload]
    scale = SMOKE_SCALE if a.smoke else cfg["scale"]

    fp_start = fingerprint()
    cp, built = build()
    data = ensure_tables(scale)

    runs = os.path.join(HERE, ".runs")
    root = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    inputs = os.path.join(runs, f"inputs-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "local", "checkpoints"):
        os.makedirs(os.path.join(root, d))
    os.makedirs(inputs, exist_ok=True)
    try:
        conf = {
            "workload": a.workload, "max_timed_s": MAX_TIMED_S, "trace": a.trace,
            "data_dir": data, "root": root, "cpus": CPUS,
            "record_out": os.path.join(inputs, "record.json"),
            "plan_file": os.path.join(inputs, "plan"),
            "warmup": ",".join(w["warmup"]),
            "pair_ops": ",".join(cfg["pair_ops"]),
            "warm_passes": w["warm_passes"],
            "min_passes": 1 if a.record_expect else 1 + a.trace,
            "check": 0 if a.record_expect else 1,
        }
        n_passes = conf["min_passes"] if a.smoke or a.record_expect else max(
            conf["min_passes"], round(a.seconds / w["pass_s"]))
        with open(conf["plan_file"], "w") as f:
            f.write("\n".join(",".join(p) for p in plan(
                w["ops"], a.seed, w["warm_passes"] + n_passes)))
        wrong_name = None
        if not a.record_expect:
            exp, wrong_name = expectations(cfg, scale, w["ops"], a.wrong_expectation)
            if wrong_name:
                conf["expect_file"] = os.path.join(inputs, "expect")
                with open(conf["expect_file"], "w") as f:
                    f.write("\n".join(exp) + "\n")
            else:
                conf["expect_file"] = exp
        ingest_rows = 0
        if "collab_round" in w["ops"]:
            # one fresh ratings batch per round
            csvs = []
            for k in range(w["warm_passes"] + n_passes):
                p = os.path.join(inputs, f"ratings{k}.csv")
                n_train, n_valid = gen.write_ratings_csv(p, a.seed * 1000 + k)
                csvs.append(p)
            ingest_rows = n_train + n_valid
            conf["ratings_csvs"] = ",".join(csvs)
            conf["ratings_valid"] = n_valid
            conf["rmse_bound"] = gen.RMSE_BOUND
            conf["reference_csv"] = os.path.join(
                CHECKOUT, "src", "test", "resources", "ratings.csv")
        conf_path = os.path.join(inputs, "run.properties")
        with open(conf_path, "w") as f:
            # java.util.Properties: the first '=' ends the key; backslashes
            # in values must be doubled
            for k, v in conf.items():
                f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")

        cmd = (["java"] + [x for p in ADD_OPENS
                           for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", "-Dspark.sql.session.timeZone=UTC",
                  "-Dspark.ui.enabled=false", "-Dspark.callstack.depth=60",
                  f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
                  "-cp", cp, "perfbench.Main", conf_path])
        budget = (BUILD_BUDGET_S if built else RUN_BUDGET_S) - 10
        left = budget - (time.time() - t_start)
        with open(os.path.join(inputs, "jvm.log"), "w") as log:
            try:
                rc = subprocess.run(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=left).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(os.path.join(inputs, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"measuring JVM failed ({rc}):\n{tail}", 1)
        with open(conf["record_out"]) as f:
            record = json.load(f)
        artifact_mb = du_mb(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(inputs, ignore_errors=True)

    os.makedirs(os.path.join(runs, "records"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}"
    record_path = os.path.join(runs, "records", tag + ".json")
    if a.record_expect:
        with open(record_path, "w") as f:
            json.dump(record, f)
        seen = record["observed"]
        with open(a.record_expect, "a") as f:
            for name in sorted(seen):
                f.write(f"{name}\t{seen[name]['rows']}\t{seen[name]['hash']}\n")
        print(json.dumps({"recorded": len(seen), "errors": [
            o["err"] for o in record["ops"] if o["err"]]}))
        return 0

    ops = record["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and not record["setup_errors"] and len(ops) > 0
    e2e = stats.end_to_end(record, set(cfg["pair_ops"]))
    layers = stats.per_layer(record, set(cfg["pair_ops"]), cfg["modules"],
                             cfg["setup_metric_entries"], ingest_rows)
    layers["sources.artifact_mb"] = (artifact_mb, "MB")
    record["fingerprint"] = {"start": fp_start, "end": fingerprint()}
    record["metrics"] = {"end_to_end": e2e, "per_layer": layers if a.trace else {}}
    record["seed"], record["seconds"], record["trace"] = a.seed, a.seconds, a.trace
    if a.trace:
        record["span_tree"] = stats.span_tree(record)
    with open(record_path, "w") as f:
        json.dump(record, f)

    shown = layers if a.trace else e2e
    print(f"# {a.workload} seed={a.seed} trace={a.trace} passes={len(record['passes'])}"
          f" ops={len(ops)} failed={failed} timed_s={record['timed_s']:.2f}")
    print(f"# machine start={json.dumps(fp_start)} end={json.dumps(record['fingerprint']['end'])}")
    for k in sorted(shown):
        v, unit = shown[k]
        print(f"{a.workload:16s} {k:36s} {v:14.6g} {unit}")
    for e in record["setup_errors"] + [f"{o['name']}: {o['err']}" for o in ops if not o["ok"]][:20]:
        print(f"# FAILED {e}")
    if wrong_name:
        print(f"# wrong expectation planted on {wrong_name}")
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": shown.get(m["name"], (float("nan"),))[0],
                           "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
