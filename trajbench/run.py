#!/usr/bin/env python3
"""Benchmark of the graft library on its public entry points.

Run from the repository root:

    python3 trajbench/run.py --workload traj_ref --seed 1 --seconds 20 --trace 0

Workloads (one client, closed loop, on local[nproc]):
  traj_ref      the paper's all-pairs distance scan over a 1,251-frame x
                22,561-atom XTC trajectory
  query_mix     short oracle-checked relational, event, window and
                trajectory queries from SparkEntry.queries, seeded order

The first run compiles the library with the harness (sbt, offline) into
.bench_build/; inputs are generated from the seed and cached there, one
seed at a time. query_mix outputs are checked against DuckDB by the
repository's .claude/skills/verify/check.py. Every
metric is printed as `<workload> <name> = <value> <unit>`; the last line
is one JSON object {"correct", "attempted", "failed", "metrics"} holding
the end-to-end metrics (--trace 0) or the per-layer metrics of a traced
run (--trace 1), as listed in BENCHMARK.json.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CHECK = os.path.join(ROOT, ".claude", "skills", "verify", "check.py")
WORKLOADS = ("traj_ref", "query_mix")
# Seconds a run may take beyond --seconds after the build: input
# generation, JVM set-up, after-loop probes and the output check.
MARGIN_S = 150
# The JVM's default collector (G1) and Bench's default heap cap. The heap
# is committed as it grows, so VmHWM follows what a run allocates and
# keeps; G1 still sizes its young generation from the cap.
HEAP = "-Xmx8g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[trajbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in d.split(os.sep))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles library + harness once per source digest; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and os.pathsep in ln]
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def cached(kind, key, gen):
    """Input directory `<kind>_<key>` under .bench_build/inputs, made by
    gen(tmp_dir) when missing. Other entries of the kind are dropped, so
    the cache holds one seed at a time; a finished entry is renamed into
    place, so a run cut mid-generation leaves nothing that looks done."""
    root = os.path.join(BUILD, "inputs")
    d = os.path.join(root, f"{kind}_{key}")
    if not os.path.isdir(d):
        os.makedirs(root, exist_ok=True)
        for e in os.listdir(root):
            if e.startswith((kind + "_", f".tmp_{kind}_")):
                shutil.rmtree(os.path.join(root, e), ignore_errors=True)
        tmp = os.path.join(root, f".tmp_{kind}_{key}")
        os.makedirs(tmp)
        gen(tmp)
        os.rename(tmp, d)
    return d


def java(cp, main, args, log, deadline, what):
    """Runs `main` on the classpath in its own process group, killed at
    the deadline (and on SIGTERM or Ctrl-C) so no JVM is left behind."""
    cmd = ["java", HEAP, f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    env = dict(os.environ, GRAFT_FIXTURES_DIR=os.path.join(ROOT, "fixtures"))
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=BUILD, env=env, stdout=f,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc is None:
        fail(f"{what}: timed out; see {log}")
    if rc != 0:
        fail(f"{what} failed (rc={rc}); see {log}")


def check_outputs(out_dir, sf, deadline):
    """{query: error} for every query dumped under out_dir whose rows
    check.py finds different from DuckDB's answer to its oracle SQL."""
    report = os.path.join(BUILD, "check_report.json")
    if os.path.exists(report):
        os.remove(report)
    spill = os.path.join(BUILD, "duckdb_spill")
    env = dict(os.environ, CHECK_DUCKDB_THREADS="2", CHECK_DUCKDB_MEM="2GB",
               CHECK_DUCKDB_TMP=spill)
    names = sorted(e for e in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, e)))
    try:
        subprocess.run([sys.executable, CHECK, out_dir, sf, report], env=env,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       stdin=subprocess.DEVNULL, cwd=BUILD,
                       timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    if not os.path.exists(report):
        return {n: "check.py gave no report" for n in names}
    with open(report) as f:
        rows = json.load(f)

    def why(e):
        if e["err"]:
            return e["err"]
        if not e["rows_match"]:
            return f"rows {e['spark_rows']} != {e['oracle_rows']}"
        return "columns differ"
    return {n: why(rows[n]) if n in rows else "not checked"
            for n in names if not rows.get(n, {}).get("hash_match")}


def tail(xs):
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it. Below 20 samples that percentile would fall
    under the median, so the maximum is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{args.workload}: set-up failed: run from the repository root "
             "(src/main/scala/graft not found)")
    if args.workload == "query_mix" and not os.path.isfile(CHECK):
        fail(f"{args.workload}: set-up failed: {CHECK} not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    w = args.workload
    digest = source_digest()
    cp = build(digest)
    deadline = time.monotonic() + args.seconds + MARGIN_S
    for d in ("spark-local", "tmp", "check", "logs"):
        shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
        os.makedirs(os.path.join(BUILD, d))

    def gen_jvm(kind):
        return lambda tmp: java(
            cp, "graft.trajbench.Gen", [kind, str(args.seed), tmp],
            os.path.join(BUILD, "logs", f"gen_{kind}.log"), deadline,
            f"{w}: set-up (generating {kind} inputs)")

    def make_tables(tmp):
        sys.path.insert(0, HERE)
        import gen_tables
        gen_tables.generate(tmp, args.seed)

    g0 = time.monotonic()
    if w == "traj_ref":
        inputs = ["--traj", cached("traj_ref", f"s{args.seed}_1251x22561",
                                   gen_jvm("traj_ref"))]
        if args.trace:
            inputs += ["--codecs", cached("codecs", f"s{args.seed}_24x22561",
                                          gen_jvm("codecs"))]
    else:
        sf = cached("sf", f"s{args.seed}", make_tables)
        inputs = ["--sf", sf]
    gen_s = time.monotonic() - g0

    out = os.path.join(BUILD, f"result_{w}.json")
    if os.path.exists(out):
        os.remove(out)
    java(cp, "graft.trajbench.Main",
         ["--workload", w, "--seed", str(args.seed),
          "--seconds", str(args.seconds), "--trace", str(args.trace),
          "--work", BUILD, "--out", out] + inputs,
         os.path.join(BUILD, "logs", f"{w}.log"), deadline,
         f"{w}: set-up or run")
    if not os.path.exists(out):
        fail(f"{w}: set-up or run wrote no result")
    with open(out) as f:
        r = json.load(f)

    ops = r["ops"]
    lat = [o["s"] for o in ops]
    wrong = [f"{o['name']}: {o['error']}" for o in ops if not o["ok"]]
    late = {o["name"]: o["error"] for o in r["extra_failures"]}
    if w == "query_mix":
        late.update((n, f"wrong result: {e}") for n, e in check_outputs(
            os.path.join(BUILD, "check"), sf, deadline).items())
    for name, err in sorted(late.items()):
        # a check made after the loop fails every timed op of that name
        wrong.append(f"{name}: {err}")
        hit = [o for o in ops if o["name"] == name]
        for o in hit:
            o["ok"] = False
        if not hit:
            ops.append({"name": name, "s": 0.0, "ok": False})
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    ok_s = sum(o["s"] for o in ops if o["ok"])
    t_val, t_pct, t_n = tail(lat)
    m = {
        "setup_s": (r["setup_s"], "s"),
        "ops_per_s": (sum(1 for o in ops if o["ok"]) / r["measure_s"], "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (t_val, "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "failed_frac": (failed / attempted, "fraction"),
    }
    if "pairs" in r["work"]:
        m["pairs_per_s"] = (r["work"]["pairs"] / ok_s, "1/s")
    if "frames" in r["work"]:
        m["frames_per_s"] = (r["work"]["frames"] / ok_s, "1/s")

    stamp = dict(r["stamp"], seed=args.seed, git_sha=git_sha(),
                 source_digest=digest, trace=bool(args.trace),
                 op_tail_percentile=t_pct, op_samples=t_n,
                 steal_flag=r["stamp"]["steal_pct"] >= 2.0,
                 input_gen_s=gen_s, measure_s=r["measure_s"])
    stamp.update(r["info"])
    print(f"{w} stamp {json.dumps(stamp, sort_keys=True)}")
    if stamp["steal_flag"]:
        print(f"{w} WARNING steal {stamp['steal_pct']:.1f}% >= 2%: noisy run")
    for e in wrong:
        print(f"{w} FAILED op {e}")
    for name, (v, unit) in m.items():
        print(f"{w} {name} = {v:.6g} {unit}")
    print(f"{w} op_tail_s is p{t_pct:.1f} over {t_n} ops")

    if args.trace:
        layers = dict(r["layers"], peak_rss_mb=r["peak_rss_mb"])
        for k, xs in r["spans"].items():
            layers.setdefault(k, statistics.median(xs))
        for k, v in sorted(layers.items()):
            print(f"{w} layer {k} = {v:.6g}")
        metrics = {x["name"]: {"value": float(layers.get(x["name"], 0.0)),
                               "unit": x["unit"]} for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: {"value": float(m[x["name"]][0]), "unit": x["unit"]}
                   for x in spec["end_to_end"]}
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
