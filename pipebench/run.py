#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

One run:
    python3 pipebench/run.py --workload <wins_stage|pretrain_recipe|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

builds the engine and the benchmark from source on first use (sbt, offline),
runs the workload in one JVM on local[nproc], checks its outputs, prints the
metrics with their units, and ends with one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced run (spans are written to
pipebench/.work/<workload>/spans.json).

Steadiness:
    python3 pipebench/run.py --steady 10 [--workload W] [--seed 1] [--seconds 5]
        [--steady-out summary.json]
runs each workload on 10 consecutive seeds and prints every metric's median
and its spread (distance between first and third quartile over the median);
    python3 pipebench/run.py --agree first.json second.json
checks two such summaries against the bounds in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ["wins_stage", "pretrain_recipe", "query_mix"]
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURE = os.path.join(HERE, "data", "sf0.01")
# published-corpus digests of the development and held-out seeds
EXPECTED_DIGESTS = os.path.join(HERE, "expected_digests.json")
HEAP = "3g"
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath
    and the engine's JVM options, both as the sbt build states them."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath")
    opts_file = os.path.join(BUILD, "java_options")
    stamp = os.path.join(BUILD, "source.sha256")
    if all(map(os.path.exists, [cp_file, opts_file, stamp])) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), open(opts_file).read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and benchmark (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "print javaOptions",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=700)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    # `print` writes one "* <option>" line per element of the sequence
    opts = [l[2:].strip() for l in lines if l.startswith("* ")]
    if not any(o.startswith("--add-opens") for o in opts):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build did not report the JVM options")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(opts_file, "w") as f:
        f.write("\n".join(opts))
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, opts


def run_jvm(build_out, workload, seed, seconds, trace):
    work = os.path.join(WORK, workload)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cores = len(os.sched_getaffinity(0))
    cp, opts = build_out
    # the last -Xmx wins, so the benchmark's heap overrides the build's
    cmd = ["java"] + opts + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--fixture", FIXTURE, "--out", out, "--cores", str(cores)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        err = e.stderr.decode() if isinstance(e.stderr, bytes) else (e.stderr or "")
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"{workload} run exceeded {JVM_TIMEOUT_S} s")
    for line in p.stderr.splitlines():
        if "[pipebench]" in line or "Exception" in line or "Error" in line:
            print(line, file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} run failed (exit {p.returncode})")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- oracle

def oracle_failures(oracle_dir, fixture_dir):
    """Keys whose dumped Spark result differs from the DuckDB oracle SQL,
    compared as tools/compare.py compares them: columns and types matched
    by name, rows as sorted multisets, doubles to a relative 1e-9."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from compare import TABLES, rows_eq
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(fixture_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(oracle_dir, "oracle_sql.json")))
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{oracle_dir}/{name}/*.parquet')")
            duck_rel = con.sql(sql)
            s_cols, d_cols = sorted(spark_rel.columns), sorted(duck_rel.columns)
            if [c.lower() for c in s_cols] != [c.lower() for c in d_cols]:
                bad[name] = f"columns {s_cols} vs {d_cols}"
                continue
            s_types = {c.lower(): str(t) for c, t in zip(spark_rel.columns, spark_rel.types)}
            d_types = {c.lower(): str(t) for c, t in zip(duck_rel.columns, duck_rel.types)}
            mis = [c for c in s_types if s_types[c] != d_types[c]]
            if mis:
                bad[name] = f"types differ on {mis}"
                continue
            s_sel = "SELECT " + ", ".join(f'"{c}"' for c in s_cols) + " FROM spark_rel"
            d_sel = "SELECT " + ", ".join(f'"{c}"' for c in d_cols) + " FROM duck_rel"
            # exact multiset equality settles most keys inside DuckDB; only
            # a difference falls through to the tolerant row-by-row compare
            diff = con.sql(f"SELECT count(*) FROM (({s_sel}) EXCEPT ALL ({d_sel})) UNION ALL "
                           f"SELECT count(*) FROM (({d_sel}) EXCEPT ALL ({s_sel}))").fetchall()
            if diff == [(0,), (0,)]:
                continue
            s_rows = con.sql(s_sel).fetchall()
            d_rows = con.sql(d_sel).fetchall()
            if len(s_rows) != len(d_rows):
                bad[name] = f"rows {len(s_rows)} vs {len(d_rows)}"
                continue
            key = lambda r: tuple((x is None, str(x)) for x in r)
            for i, (a, b) in enumerate(zip(sorted(s_rows, key=key), sorted(d_rows, key=key))):
                if not rows_eq(a, b):
                    bad[name] = f"row {i}: spark={a} duck={b}"
                    break
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {e}"
    return bad


# ------------------------------------------------------------------ runs

def one_run(workload, seed, seconds, trace):
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
            "run from a checkout of the repository")
        raise SystemExit(2)
    built = build()
    t0 = time.time()
    r = run_jvm(built, workload, seed, seconds, trace)
    log(f"jvm {time.time() - t0:.1f} s")
    info = r.get("info", {})
    correct, attempted, failed = r["correct"], r["attempted"], r["failed"]
    if workload == "query_mix":
        t0 = time.time()
        bad = oracle_failures(info["oracle_dir"], info["fixture_dir"])
        log(f"oracle {time.time() - t0:.1f} s")
        runs = info.get("key_runs", {})
        attempted += len(json.load(open(os.path.join(info["oracle_dir"], "oracle_sql.json"))))
        for k, why in bad.items():
            log(f"oracle mismatch {k}: {why}")
            failed += 1 + runs.get(k, 0)
        info["oracle_failures"] = len(bad)
        correct = correct and not bad
    if workload == "pretrain_recipe":
        want = json.load(open(EXPECTED_DIGESTS))[workload].get(str(seed))
        if want is not None:
            attempted += 1
            if info["output_digest"] != want:
                log(f"output digest {info['output_digest']} differs from the stored {want}")
                failed += 1
                correct = False
    info["failed_ratio"] = failed / attempted if attempted else 1.0
    for k, v in sorted(info.items()):
        if k not in ("key_runs",):
            print(f"  {k}: {v}")
    for k, v in r["metrics"].items():
        print(f"  {workload} {k} = {v['value']} {v['unit']}")
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": r["metrics"]}


def steady(workloads, k, seed, seconds, trace):
    """Run each workload on k seeds; print median and relative spread."""
    summary = {}
    for w in workloads:
        vals, units, fails = {}, {}, 0
        for s in range(seed, seed + k):
            r = one_run(w, s, seconds, trace)
            fails += r["failed"]
            for n, m in r["metrics"].items():
                vals.setdefault(n, []).append(m["value"])
                units[n] = m["unit"]
        summary[w] = {}
        for n, xs in vals.items():
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
            spread = (q[2] - q[0]) / med if med else float("nan")
            summary[w][n] = {"median": med, "spread": spread, "unit": units[n], "values": xs}
            print(f"STEADY {w:16s} {n:24s} median={med:.6g} {units[n]:7s} spread={spread:.4f} n={len(xs)}")
        print(f"STEADY {w:16s} failed operations over {k} runs: {fails}")
    return summary


def agree(first, second):
    """Compare two --steady-out summaries against BENCHMARK.json: every
    spread must stay within its metric's bound, and the two medians may
    not differ, in either direction, by more than the bound taken from
    the lower of them."""
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    a, b = json.load(open(first)), json.load(open(second))
    ok = True
    for w in sorted(set(a) & set(b)):
        for n, m in spec.items():
            if n not in a[w] or n not in b[w]:
                continue
            ma, mb = a[w][n]["median"], b[w][n]["median"]
            apart = abs(mb - ma) / min(ma, mb)
            spreads = [a[w][n]["spread"], b[w][n]["spread"]]
            good = apart <= m["bound"] and max(spreads) <= m["bound"]
            ok = ok and good
            print(f"AGREE {w:16s} {n:14s} bound={m['bound']:.2f} spreads={spreads[0]:.4f},{spreads[1]:.4f} "
                  f"medians apart by {apart:.4f} {'ok' if good else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="K")
    ap.add_argument("--steady-out", help="write the steadiness summary as JSON")
    ap.add_argument("--agree", nargs=2, metavar=("FIRST", "SECOND"),
                    help="check two --steady-out summaries against the bounds")
    a = ap.parse_args()
    if a.agree:
        raise SystemExit(0 if agree(*a.agree) else 1)
    if a.steady:
        s = steady([a.workload] if a.workload else WORKLOADS, a.steady, a.seed, a.seconds, a.trace)
        if a.steady_out:
            with open(a.steady_out, "w") as f:
                json.dump(s, f, indent=1)
        return
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(one_run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
