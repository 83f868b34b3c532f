#!/usr/bin/env python3
"""Flow-path benchmark of the graft engine: one seeded run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload nfacctd_live --seed 1 --seconds 30 --trace 0

Workloads: nfacctd_live, archive_enrich (BENCHMARK.json), imt_mixed and
analytics_lanes (on demand; see README.md).

Builds the benchmark (the engine plus perfbench/src) with sbt when the
sources changed since the last build, runs the workload in a fresh JVM,
checks its output (the Scala side checks what it can hold in memory; the
archive and lane outputs are checked here against DuckDB), and prints a
line of run stamps and then, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end set, with --trace 1 its per_layer set.
Metric definitions per workload are in perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import importlib.util
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "4g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
CHECK_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(d, exist_ok=True)
    return d


def fingerprint():
    """Hash of every input of the build: engine and benchmark sources and
    both build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """Returns the runtime classpath and whether it compiled first, which
    it does when any build input changed."""
    stamp = os.path.join(bdir, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp:
            return s["classpath"], False
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, True


def run_jvm(cp, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        kept = os.path.join(os.path.dirname(os.path.dirname(work)), "failed-jvm.log")
        shutil.copy(log, kept)
        with open(log) as f:
            errs = [l for l in f if "Exception" in l or "Error" in l]
        sys.stderr.write("".join(errs[:20]))
        fail(f"workload JVM failed ({rc}); log kept in {kept}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


class Ops:
    """Operation accounting shared with the JVM's counts."""
    def __init__(self, res):
        self.attempted = res["attempted"]
        self.failed = res["failed"]
        self.failures = list(res["failures"])

    def op(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def check_archive(c, ops, metrics):
    """Totals of the engine's JSON frame per full aggregate key, per bin
    and per tag against DuckDB over the archive. The workload's
    aggregate_filter and pre_tag_map are written out by hand in SQL, and
    dst_net is the longest match in the generated routing tables: each
    address masked to every prefix length the table holds, joined on
    (length, base), the longest hit kept."""
    import duckdb
    tag = ("CASE WHEN ip_proto = 6 AND port_dst = 443 THEN 1 "
           "WHEN ip_proto = 6 AND port_dst = 80 THEN 2 "
           "WHEN ip_src % 16 = 7 THEN 3 WHEN ip_proto = 17 THEN 4 "
           "WHEN bytes > 20000 THEN 5 ELSE 0 END")
    archive = f"read_parquet('{c['parquet']}/*.parquet')"
    con = duckdb.connect()
    for af in ("rib4", "rib6"):
        con.execute(f"CREATE TABLE {af} AS SELECT * FROM read_csv('{c[af]}', header = true, "
                    "columns = {'base': 'BIGINT', 'len': 'INTEGER', 'val': 'BIGINT'})")
    # the masked candidates are materialised first, so that the join on
    # (len, base) is a hash join and not a nested loop
    con.execute("CREATE TABLE cand AS " + " UNION ALL ".join(
        f"SELECT a.rec_id, '{rib}' AS rib, l.len, a.{addr} & ~((1::BIGINT << ({bits} - l.len)) - 1) AS base "
        f"FROM {archive} a, (SELECT DISTINCT len FROM {rib}) l WHERE a.{addr} IS NOT NULL"
        for rib, addr, bits in (("rib4", "ip_dst", 32), ("rib6", "dst6_hi", 64))))
    con.execute("CREATE TABLE rib AS SELECT 'rib4' AS rib, * FROM rib4 UNION ALL "
                "SELECT 'rib6', * FROM rib6")
    con.execute("CREATE TABLE nets AS SELECT rec_id, arg_max(val, len) AS dst_net "
                "FROM cand JOIN rib USING (rib, len, base) GROUP BY rec_id")
    con.execute(
        f"CREATE TABLE e AS SELECT (t0u // 60000000) * 60 AS bin_start, n.dst_net, "
        f"port_dst AS dst_port, ip_proto AS proto, {tag} AS tag, bytes, packets, 1 AS flows "
        f"FROM {archive} a LEFT JOIN nets n USING (rec_id) "
        "WHERE NOT (ip_proto = 17 AND port_dst = 53) AND bytes > 100")
    con.execute("CREATE TABLE g AS SELECT " + ", ".join(
        f"CAST(json_extract(value, '$.{k}') AS BIGINT) AS {k}"
        for k in ("bin_start", "dst_net", "dst_port", "proto", "tag",
                  "bytes", "packets", "flows")) +
        f" FROM read_parquet('{c['json']}/*.parquet')")
    total = {}
    for key in ("bin_start", "tag", "bin_start, dst_net, dst_port, proto, tag"):
        n = key.count(",") + 1
        exp, got = ({x[:n]: x[n:] for x in con.execute(
            f"SELECT {key}, CAST(sum(bytes) AS BIGINT), CAST(sum(packets) AS BIGINT), "
            f"CAST(sum(flows) AS BIGINT) FROM {t} GROUP BY ALL").fetchall()} for t in ("e", "g"))
        total = (sum(x[2] for x in exp.values()), sum(x[2] for x in got.values()))
        for k in set(exp) | set(got):
            ops.op(exp.get(k) == got.get(k),
                   f"archive ({key})={k}: duckdb {exp.get(k)} engine {got.get(k)}")
    metrics["delivery_ratio"] = {"value": total[1] / total[0], "unit": "ratio"}


def check_lanes(c, ops):
    """Each lane's written result against its oracle SQL through
    tools/check.py (same normalisation and cell comparison). The lanes read
    only documents and embeddings; the other tables check.py binds exist
    empty."""
    import duckdb
    for t in CHECK_TABLES:
        p = os.path.join(c["tables"], f"{t}.parquet")
        if not os.path.exists(p):
            duckdb.connect().execute(f"COPY (SELECT 1 AS x LIMIT 0) TO '{p}' (FORMAT PARQUET)")
    sys.dont_write_bytecode = True
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(c["tables"], c["out"], set(c["lanes"]))
    seen = set()
    for line in buf.getvalue().splitlines():
        if line.startswith(("PASS ", "FAIL ")):
            name = line.split()[1].rstrip(":")
            seen.add(name)
            ops.op(line.startswith("PASS"), line[:300])
    for name in set(c["lanes"]) - seen:
        ops.op(False, f"{name}: not checked")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bdir = build_dir()
    cp, built = build(bdir)
    work = os.path.join(bdir, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        load0 = os.getloadavg()[0]
        # a run that compiled first may take longer; one that did not must
        # end within the run limit as a whole
        res = run_jvm(cp, args, work, RUN_LIMIT_S - (0 if built else time.time() - t0))
        ops = Ops(res)
        extra = res["extra"]
        t_check = time.time()
        if "archive_check" in extra:
            check_archive(extra["archive_check"], ops, res["metrics"])
        if "lanes_check" in extra:
            check_lanes(extra["lanes_check"], ops)
        t_check = time.time() - t_check
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = res["metrics"]
    if "success_ratio" in metrics:
        metrics["success_ratio"]["value"] = 1.0 - ops.failed / max(1, ops.attempted)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in metrics
               or not isinstance(metrics[n]["value"], (int, float))
               or not math.isfinite(metrics[n]["value"])]
    if missing:
        fail(f"metrics not measured: {missing}")
    stamps = dict(extra.get("stamps", {}), phases_s=extra.get("phases_s"), load1_before_jvm=load0,
                  load1_after=os.getloadavg()[0], heap=HEAP, wall_s=time.time() - t0,
                  python_check_s=t_check,
                  failures=ops.failures[:10])
    runs = os.path.join(bdir, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"stamps": stamps, "metrics": metrics}, f, indent=1)
    print(json.dumps({"stamps": stamps}))
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]}
                    for n in names}}))


if __name__ == "__main__":
    main()
