#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, one JVM per run.

    python3 perfbench/run.py --workload <warehouse_etl|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft's sources and
the harness (perfbench/build.sbt) with sbt; later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed
(perfbench/datagen.py) and cached per seed. The JVM (graftbench.Main)
runs the session set-ups, the closed-loop timed passes and the untimed
output checks; this script then checks outputs against DuckDB and
prints one JSON line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Everything is written under perfbench/.work.
"""
import argparse
import glob
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# Inputs per workload: scale factor of one replica, replicas of the
# star-schema tables (graft.ScaleGen construction), tables, and the
# scale of the warm-up inputs.
SHAPES = {
    "warehouse_etl": {"sf": 0.01, "copies": 12, "warm_sf": 0.001,
                      "tables": ["region", "nation", "customer", "supplier",
                                 "part", "orders", "lineitem"]},
    "query_mix": {"sf": 0.01, "copies": 1, "warm_sf": 0.001, "tables": None},
}
# IVF recall probing 4 of 16 cells at random is about 0.3 on the
# generated (clustered) embeddings; the real index scores about 0.9
RECALL_FLOOR = {"neardup_recall": 0.95, "topk_recall": 0.75}
E2E = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"), ("call_p90_s", "s")]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           stdin=subprocess.DEVNULL, text=True, timeout=600)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs; returns (data, warm, stats)."""
    import datagen
    shape = SHAPES[workload]
    h = hashlib.sha256(json.dumps(shape, sort_keys=True).encode())
    with open(datagen.__file__, "rb") as fh:
        h.update(fh.read())
    key = f"{seed}-{h.hexdigest()[:12]}"  # new inputs when the generator changes
    base = os.path.join(WORK, "data", workload)
    data, warm = os.path.join(base, f"seed{key}"), os.path.join(base, f"warm{key}")
    marker = os.path.join(data, "stats.json")
    if not os.path.exists(marker):
        if os.path.isdir(base):  # keep one seed's inputs on disk
            shutil.rmtree(base)
        tables = shape["tables"] or datagen.TABLES
        datagen.generate(warm, seed, shape["warm_sf"], tables=tables)
        stats = datagen.generate(data, seed, shape["sf"], shape["copies"], tables=tables)
        with open(marker, "w") as fh:
            json.dump(stats, fh)
    with open(marker) as fh:
        return data, warm, json.load(fh)


def run_jvm(cp, args, work, timeout):
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main"]
           + [f"{k}={v}" for k, v in args.items()] + [f"out={out}"])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)

        def stop(*_):
            proc.kill()
            proc.wait()
            fail(f"stopped; JVM killed, see {log}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop()
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"JVM exited with {rc}, see {log}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def norm_cell(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def table_rows(con, query):
    """(sorted column names, rows in arrival order, cells in column-name
    order) — the canonical form of scripts/check_oracle.py."""
    cur = con.sql(query)
    cols = cur.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), [tuple(norm_cell(r[i]) for i in order) for r in cur.fetchall()]


def duck(data, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check_outputs(workload, res, data, tables):
    """Output checks; returns (names of calls whose output is wrong, notes)."""
    c = res["checks"]
    bad, notes = set(), []
    if workload == "query_mix":
        con = duck(data, tables)
        oracle = c["oracle_sql"]
        for name in c["check_errors"]:
            bad.add(name)
            notes.append(f"{name}: check run threw")
        for name in sorted(set(q["name"] for q in res["calls"])):
            pq = os.path.join(c["check_dir"], name)
            if name in bad or not os.path.isdir(pq):
                continue
            try:
                got_cols, got = table_rows(con, f"SELECT * FROM read_parquet('{pq}/*.parquet')")
                if name in oracle:
                    want_cols, want = table_rows(con, oracle[name])
                    ok = got_cols == want_cols and got == want
                else:  # rows-only (q276: zlib has no SQL twin)
                    ok = len(got) > 0
            except Exception as e:  # noqa: BLE001 - any failure is a wrong output
                ok = False
                notes.append(f"{name}: {e}")
            if not ok:
                bad.add(name)
                notes.append(f"{name}: output differs from its oracle")
        if len(c["stream_pairs"]) != 1 or c["stream_pairs"][0] == 0:
            bad.add("stream_batch")
            notes.append(f"streaming replays emitted {c['stream_pairs']} pairs")
        if c["neardup_true_pairs"] == 0 or c["neardup_false_pairs"] != 0:
            bad.add("stream_batch")
            notes.append(f"recall subsample: {c['neardup_true_pairs']} true pairs, "
                         f"{c['neardup_false_pairs']} unverified LSH pairs")
        for k, floor in RECALL_FLOOR.items():
            if c[k] < floor:
                bad.add("q32_embed_ivf" if k == "topk_recall" else "stream_batch")
                notes.append(f"{k} {c[k]:.4f} below {floor}")
    else:
        con = duck(data, tables)
        if not c["dq"] or not all(v == 1 for v in c["dq"].values()):
            bad.add("runStarSchema")
            notes.append(f"DQ gate: {c['dq']}")
        for t, sql in c["expected_rows_sql"].items():
            want = con.sql(sql).fetchone()[0]
            if c["written_rows"][t] != want:
                bad.add("runStarSchema")
                notes.append(f"{t}: wrote {c['written_rows'][t]} rows, expected {want}")
    return bad, notes


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("graft sources (src/main/scala/graft) not found; run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}

    cp = build()
    data, warm, stats = inputs(a.workload, a.seed)
    work = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "data": data, "warm": warm, "work": work,
            "cores": cores}
    t0 = time.time()
    # set-ups and checks take 30-60 s on 4 CPUs, the timed loop --seconds
    # plus up to one pass; the rest is room for a slow host
    res = run_jvm(cp, args, work, timeout=150 + 2 * a.seconds)
    jvm_s = time.time() - t0

    bad, notes = check_outputs(a.workload, res, data, list(stats))
    calls = res["calls"]
    failed = sum(1 for c in calls if not c["ok"] or c["name"] in bad)
    attempted = len(calls)
    for n in notes + res["errors"]:
        print(f"[perfbench] check: {n}", file=sys.stderr)

    # pass 0 is the ramp: the JIT still compiles and the relation cache
    # fills, so it runs 25-60% slower than later passes. wall_s and
    # rows_per_s take the passes after it; its calls count in call_p90_s.
    passes = [p for p in res["passes"] if not p["traced"]][1:]
    lat = sorted(c["s"] for c in calls if c["ok"] and c["name"] not in bad)
    e2e = {
        "setup_s": median(res["setup_s"]),
        "wall_s": median([p["wall_s"] for p in passes]),
        "rows_per_s": median([p["records_read"] / p["wall_s"] for p in passes]),
        "call_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else 0.0,
    }
    if a.trace:  # layers a workload does not exercise read 0
        layer = dict(res["per_layer"], **{"calls.p50_s": median(lat),
                                          "jvm.peak_rss_mb": res["peak_rss_mb"]})
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in per_layer.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
    print(f"[perfbench] {a.workload} seed={a.seed}: {len(res['passes'])} passes, "
          f"{len(lat)} latency samples, jvm {jvm_s:.1f}s, inputs "
          + ", ".join(f"{t}={s['rows']}" for t, s in stats.items()), file=sys.stderr)
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
