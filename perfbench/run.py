#!/usr/bin/env python3
"""The repo benchmark: one command, one driver process per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the driver from
source (cached under `.bench_build/`), makes the workload's inputs from the
seed, computes the expected outputs outside every timing, runs the driver
(`graftbench.Main`) for `--seconds` of timed work, checks every output, and
prints one JSON object as the last line of standard output: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A box record (cores, heap, versions, source revision, load
and CPU steal across the run) goes to standard error and, with the raw
driver record and the spans, under `.bench_build/runs/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
RUN_LIMIT_S = 175          # the whole command, build excluded
BUILD_LIMIT_S = 850        # a cold build of library + driver

# Each workload: the driver's kind, its queries and the products they
# build (`ArtifactCache` names), the untimed passes set-up makes after the
# first one so that the JIT settles before timing, and the fewest timed
# passes a run makes. The queries read the `embeddings` table.
WORKLOADS = {
    "wordcount": {"kind": "wordcount", "warm_passes": 3, "min_passes": 5},
    "walks_warm": {"kind": "warm", "queries": ["sim_graph_topk"],
                   "products": ["knngraph", "navgraph"], "warm_passes": 1,
                   "min_passes": 3},
}

# wordcount corpus: Zipf text in 2 x cores files.
CORPUS_BYTES = 8_000_000
CORPUS_VOCAB = 1_000_000


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


# ---------------------------------------------------------------- build --

def source_digest():
    """Digest of everything the build reads: the library's sources and
    build definition and the driver's."""
    md = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            md.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                md.update(hashlib.sha256(fh.read()).digest())
    return md.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"] + (
        ["-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else []))
    return env


def build():
    """Compile library + driver unless a build of the same sources exists;
    return the driver's runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("run from the root of a graft checkout (missing %s)" % need)
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b.get("digest") == digest:
            return b["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building library and driver")
    t0 = time.time()
    proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(ROOT, "perfbench"), env=sbt_env(),
                       timeout=BUILD_LIMIT_S)
    if proc["code"] != 0:
        sys.stderr.write(proc["out"][-4000:])
        fail("build failed")
    lines = [l for l in proc["out"].splitlines()
             if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    classpath = lines[-1].strip()
    inputs.write_json(stamp, {"digest": digest, "classpath": classpath,
                              "build_s": time.time() - t0})
    return classpath


RUNNING = set()


def stop_children(signum=None, _frame=None):
    """Kill and reap every process group this run started; on a signal,
    exit without a result."""
    for p in list(RUNNING):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group, killing the whole group if it
    outlives `timeout` (or this run is stopped); always waits for it."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         start_new_session=True, text=True, **kw)
    RUNNING.add(p)
    try:
        out, _ = p.communicate(timeout=timeout)
        return {"code": p.returncode, "out": out, "timed_out": False}
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return {"code": -9, "out": out, "timed_out": True}
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        RUNNING.discard(p)


def java_cmd(classpath, heap, *args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = []
    for p in opens:
        flags += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return (["java"] + flags + [
        # The heap starts at 2 GiB, about what a run uses: grown from the
        # default, passes kept speeding up while G1 sized the heap.
        "-Xmx" + heap, "-Xms%dg" % min(2, int(heap.rstrip("g"))),
        # No hsperfdata file under /tmp: a run writes only in its checkout.
        "-XX:-UsePerfData",
        # Huge pages for the heap: with 4 KiB pages a run's speed varied by
        # up to 45 % from one driver process to the next on a VM.
        "-XX:+UseTransparentHugePages",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-Dspark.local.dir=" + os.path.join(BUILD, "tmp"),
        "-cp", classpath, "graftbench.Main"] + list(args))


# ---------------------------------------------------------------- inputs --

def heap():
    """The heap tier-1 gives its test JVM: half the box's memory, 2-8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare(name, wl, seed, classpath):
    """Make (or reuse) the seed's inputs and expected outputs; return
    (input dir, expected outputs)."""
    d = os.path.join(BUILD, "inputs", name, "seed-%d" % seed)
    done = os.path.join(d, "expected.json")
    # Expected rows come from the library's oracle SQL, so they are made
    # again when the sources or the queries change.
    key = ("" if wl["kind"] == "wordcount" else
           source_digest() + ":" + ",".join(wl["queries"]))
    if not os.path.exists(done) or inputs.read_json(done).get("key") != key:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.time()
        if wl["kind"] == "wordcount":
            vocab = inputs.cached_vocabulary(os.path.join(BUILD, "inputs"),
                                             CORPUS_VOCAB)
            exp = inputs.make_corpus(d, seed, CORPUS_BYTES, 2 * cores(), vocab)
            exp["input_mb"] = exp["text_bytes"] / 1e6
        else:
            tables = inputs.make_tables(DATA, os.path.join(d, "tables"), seed)
            sql_file = os.path.join(d, "oracle_sql.json")
            p = run_bounded(java_cmd(classpath, "1g", "--mode", "oracle-sql",
                                     "--queries", ",".join(wl["queries"]),
                                     "--out", sql_file), timeout=60)
            if p["code"] != 0:
                sys.stderr.write(p["out"][-2000:])
                fail("could not read the oracle SQL")
            with open(sql_file) as fh:
                sql = json.load(fh)
            exp = oracle.expected(tables, sql, os.path.join(BUILD, "tmp", "duckdb"))
            exp["input_mb"] = sum(
                os.path.getsize(os.path.join(tables, t + ".parquet"))
                for t in oracle.TABLES) / 1e6
        exp["prepare_s"] = time.time() - t0
        exp["key"] = key
        inputs.write_json(done, exp)
    exp = inputs.read_json(done)
    return os.path.join(d, "text" if wl["kind"] == "wordcount" else "tables"), exp


# ------------------------------------------------------------------- box --

def box_sample():
    s = {"time": time.time()}
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        s["cpu_total"], s["cpu_steal"] = sum(f[:8]), f[7] if len(f) > 7 else 0
        with open("/proc/loadavg") as fh:
            s["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        pass
    return s


def revision():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + source_digest()[:16]


def box_record(b0, b1, rec):
    dt = b1.get("cpu_total", 0) - b0.get("cpu_total", 0)
    steal = b1.get("cpu_steal", 0) - b0.get("cpu_steal", 0)
    return {"nproc": cores(), "heap": heap(), "heap_mb": rec.get("heap_mb"),
            "java": rec.get("java"), "spark": rec.get("spark"),
            "scala": rec.get("scala"), "revision": revision(),
            "loadavg_start": b0.get("loadavg"), "loadavg_end": b1.get("loadavg"),
            "steal_pct": 100.0 * steal / dt if dt > 0 else 0.0,
            "seconds": b1["time"] - b0["time"]}


# ------------------------------------------------------------------ main --

def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_children)
    if args.seed < 0:
        fail("--seed must be >= 0")
    wl = WORKLOADS[args.workload]
    b0 = box_sample()
    classpath = build()
    t0 = time.time()
    data, expected = prepare(args.workload, wl, args.seed, classpath)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    raw = os.path.join(work, "record.json")
    cmd = java_cmd(classpath, heap(), "--kind", wl["kind"], "--data", data,
                   "--work", work, "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--cpus", str(cores()),
                   "--min-passes", str(wl["min_passes"]), "--out", raw,
                   "--warm-passes", str(wl["warm_passes"]),
                   *(["--queries", ",".join(wl["queries"])] if "queries" in wl else []))
    p = run_bounded(cmd, timeout=max(10, RUN_LIMIT_S - (time.time() - t0)), cwd=work)
    if p["code"] != 0 or not os.path.exists(raw):
        sys.stderr.write(p["out"][-4000:])
        fail("driver %s" % ("timed out" if p["timed_out"] else "exited %d" % p["code"]), 1)
    with open(raw) as fh:
        rec = json.load(fh)
    attempted, failed, reasons = layers.check(rec, expected)
    for r in reasons[:20]:
        log("wrong: " + r)
    products_mb = du(rec["products_root"]) / 1e6 if rec["products_root"] else 0.0
    if args.trace:
        metrics = layers.per_layer(rec, expected, cores(), attempted, failed,
                                   products_mb, WORKLOADS.values())
    else:
        metrics = layers.end_to_end(rec, expected["input_mb"])
    box = box_record(b0, box_sample(), rec)
    log("box " + json.dumps(box, sort_keys=True))
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    inputs.write_json(os.path.join(runs, tag + ".json"), {
        "box": box, "metrics": metrics, "attempted": attempted,
        "failed": failed, "wrong": reasons, "record": rec})
    if args.trace:
        spans = os.path.join(runs, tag + ".spans.json")
        inputs.write_json(spans, layers.spans_with_self(rec))
        log("spans " + os.path.relpath(spans, ROOT))
    # Keep the record; drop the products and sinks the run wrote.
    shutil.rmtree(os.path.join(work, "products"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tsv"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": layers.unit(k)}
                    for k, v in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
