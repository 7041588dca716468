#!/usr/bin/env python3
"""Benchmark of the detection pipeline and of the near-dup curation queries.

Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --self-check

Workloads (see perfbench/NOTES.md): batch_detect, curation_neardup.

The first run builds the program and the benchmark with sbt (the classpath is
cached under perfbench/.work and rebuilt when a source changes). Each run
starts one JVM at local[3] that stages seeded inputs, sets up, measures and
checks every operation's outputs: batch_detect against oracle.RefModel inside
the JVM, curation_neardup here against the queries' own DuckDB oracle SQL.
--trace 1 runs the separate traced pass and reports the per-layer metrics.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

--self-check feeds the gate a perturbed sink count and a perturbed routed row
and exits 0 only if both show up as failures.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the files whose change makes the cached build stale
BUILD_INPUTS = [
    os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
    os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
    os.path.join(HERE, "project"), os.path.join(HERE, "src"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in BUILD_INPUTS:
        files = [base] if os.path.isfile(base) else []
        for d, subdirs, fs in os.walk(base):
            subdirs[:] = sorted(x for x in subdirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out, err


def build():
    """Compile program + benchmark once per source state.

    Returns (classpath, whether a build ran)."""
    stamp = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, no sbt server, temporary files inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark with sbt")
    t = time.time()
    code, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit("build failed")
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and "scala-2.13" in l and os.pathsep in l]
    if not lines:
        raise SystemExit("build printed no classpath")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f} s")
    return lines[-1].strip(), True


def run_jvm(cp, workload, seed, seconds, trace, work, perturb, limit):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "graftbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--perturb", perturb]
    log_path = os.path.join(WORK, "logs", f"{os.path.basename(work)}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as err:
        try:
            code, out, _ = run_group(cmd, limit, cwd=ROOT, stdout=subprocess.PIPE,
                                     stderr=err, text=True)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run exceeded {limit:.0f} s (log: {log_path})")
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed with exit code {code}")
    return result


def norm_rows(cols, rows):
    """Rows as sorted tuples, columns in name order, floats to 6 places."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def v(x):
        return round(x, 6) if isinstance(x, float) else x
    out = [tuple(v(r[i]) for i in order) for r in rows]
    return sorted(cols[i] for i in order), sorted(out, key=repr)


def oracle_check(docs_dir, sql_path, dirs):
    """Compare the query outputs in each sink dir ({dir: [query, ...]}) with
    DuckDB running the queries' oracle SQL on the same documents; return
    {dir: [mismatch, ...]}."""
    import duckdb
    with open(sql_path) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{docs_dir}/documents.parquet/*.parquet')")
    want = {}
    for q, sql in sqls.items():
        # DuckDB re-evaluates a plain CTE inside every step of a recursive
        # one; marking the shingle-join CTEs MATERIALIZED evaluates each once.
        # The query's result is unchanged.
        sql = re.sub(r"\b(sh|pairs|jp|edges) AS \(", r"\1 AS MATERIALIZED (", sql)
        res = con.execute(sql)
        want[q] = norm_rows([d[0] for d in res.description], res.fetchall())
    bad = {}
    for d, queries in dirs.items():
        for q in queries:
            try:
                res = con.execute(f"SELECT * FROM read_parquet('{d}/{q}/*.parquet')")
                got = norm_rows([c[0] for c in res.description], res.fetchall())
            except Exception as e:  # a missing sink is a mismatch, not a crash
                got = (None, str(e))
            if got != want[q]:
                n_want = len(want[q][1])
                n_got = len(got[1]) if got[0] is not None else "?"
                bad.setdefault(d, []).append(
                    f"{q}: oracle has {n_want} rows, sink has {n_got} (or different values)")
    return bad


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {"0": b["end_to_end"], "1": b["per_layer"]}, [w["name"] for w in b["workloads"]]


def one_run(cp, workload, seed, seconds, trace, perturb, limit):
    work = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}-{perturb}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t = time.time()
        r = run_jvm(cp, workload, seed, seconds, trace, work, perturb, limit)
        t_jvm = time.time() - t
        failed_ids = set(r["failed_ids"])
        failures = list(r["failures"])
        if r["oracle_dirs"]:
            for d, why in oracle_check(r["docs_dir"], r["oracle_sql"], r["oracle_dirs"]).items():
                failed_ids.add(d)
                failures += [f"{d}: {w}" for w in why]
        log(f"JVM {t_jvm:.1f} s, oracle check {time.time() - t - t_jvm:.1f} s")
        if trace and r.get("trace_file"):
            os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
            shutil.copy(r["trace_file"], os.path.join(
                WORK, "reports", f"trace-{workload}-s{seed}.json"))
        return r, len(failed_ids), failures
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_check(cp):
    """The gate must fire on a perturbed sink count and on a perturbed routed row."""
    ok = True
    for perturb in ("sink", "row"):
        r, failed, failures = one_run(cp, "batch_detect", 1, 1, 0, perturb, RUN_LIMIT_S)
        fired = failed > 0
        log(f"perturbed {perturb}: fail_ratio={failed}/{r['attempted']} "
            f"{'(gate fired)' if fired else '(GATE DID NOT FIRE)'}; "
            f"first failure: {failures[:1]}")
        ok = ok and fired
    print(json.dumps({"self_check": "passed" if ok else "failed"}))
    return 0 if ok else 1


def main():
    # a terminated run still stops the JVM or sbt it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("the program's sources (build.sbt, src/main/scala) are not next to perfbench/")
        return 2
    cp, built = build()
    if a.self_check:
        return self_check(cp)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    metrics_decl, workloads = declared()
    if a.workload not in workloads:
        ap.error(f"unknown workload {a.workload}; known: {workloads}")
    # a run that had to build may take longer; otherwise the whole run keeps
    # within RUN_LIMIT_S
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - start)
    r, failed, failures = one_run(cp, a.workload, a.seed, a.seconds, int(a.trace), "none",
                                  limit)
    want = {m["name"]: m["unit"] for m in metrics_decl[a.trace]}
    got = r["metrics"]
    if failed == 0 and set(got) != set(want):
        raise SystemExit(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    attempted = r["attempted"]
    for f in failures:
        log(f"CORRECTNESS FAILURE {f}")
    if a.trace == "0":
        rate = "turns_per_s" if a.workload == "batch_detect" else "docs_per_s"
        print(f"{a.workload} seed={a.seed}: " + "  ".join(
            f"{rate if k == 'rows_per_s' else k}={v:.6g} {want[k]}" for k, v in got.items())
            + f"  fail_ratio={failed}/{attempted}"
            + f"  (operation walls s: {', '.join(f'{w:.3f}' for w in r['op_walls'])};"
            + f" {r['rows_per_op']} rows per operation)")
    else:
        print(f"traced {a.workload} seed={a.seed}: microbatch_p50_s="
              f"{got.get('streaming.microbatch_p50_s', float('nan')):.3f} s  "
              f"fail_ratio={failed}/{attempted}")
        for k in sorted(got):
            print(f"  {k} = {got[k]:.6g} {want.get(k, '')}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": want[k]} for k, v in got.items() if k in want},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
