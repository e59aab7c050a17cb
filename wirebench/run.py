#!/usr/bin/env python3
"""Wire-ingest benchmark of the graft engine.

Run from the root of a checkout:

    python3 wirebench/run.py --workload ingest_burst --seed 1 --seconds 15 --trace 0
    python3 wirebench/run.py --selftest

It builds the engine and the harness from source (sbt, against the Spark
distribution in SPARK_HOME), generates the workload's inputs from the seed,
runs the engine on local[nproc], checks the outputs, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json;
with --trace 1 they are its per_layer metrics. A failed correctness check
makes the exit code non-zero. See wirebench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "wirebench.stamp")
WORKLOADS = ("ingest_burst", "ingest_paced")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"# {msg}", file=sys.stderr, flush=True)


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def steal_s():
    """CPU time the hypervisor gave to others so far (all cpus, seconds)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, HARNESS_SRC):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(digest, workdir):
    """Compile engine + harness with sbt unless the stamp matches."""
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    log("building engine and harness (sbt compile)")
    t = time.time()
    out = os.path.join(workdir, "build.log")
    # offline: resolve only from the local caches
    opts = os.environ.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, SBT_OPTS=opts, COURSIER_MODE="offline")
    main_class = os.path.join(CLASSES, "wirebench", "Main.class")
    for tasks in (["compile"], ["clean", "compile"]):
        # a stale incremental state can leave classes out: then build clean
        with open(out, "w") as f:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks,
                                 cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, env=env)
        if rc == 0 and os.path.exists(main_class):
            break
    else:
        sys.stderr.write(open(out).read()[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f} s")


# ------------------------------------------------------------ batch data

def generate_tables(data_dir, seed, sf):
    """The sf-shaped tables the batch suite reads, made from the seed with
    DuckDB (hash-derived values, so the same seed gives the same bytes)."""
    import duckdb
    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    n_ev, n_ord, n_li = int(1_000_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 100), max(int(20_000 * sf), 100)
    users, custs, parts, supps = max(int(15_000 * sf), 10), max(int(150_000 * sf), 10), \
        max(int(200_000 * sf), 10), max(int(10_000 * sf), 10)
    s = int(seed)
    step = 2_592_000_000_000 // n_ev
    tables = {
        "events": f"""
            SELECT i AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * {step} + hash(i, 1, {s}) % {step} AS BIGINT)) AS ts,
              CAST(hash(i, 2, {s}) % {users} AS BIGINT) AS user_id,
              ['signup', 'click', 'error', 'view', 'purchase'][CAST(1 + hash(i, 3, {s}) % 5 AS BIGINT)] AS event_type,
              CAST(round((hash(i, 4, {s}) % 56022) / 100.0, 2) AS DOUBLE) AS value,
              '{{"k": ' || CAST(hash(i, 5, {s}) % 100 AS VARCHAR) || '}}' AS props
            FROM range({n_ev}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
              CAST(hash(i, 1, {s}) % {custs} AS BIGINT) AS o_custkey,
              ['O', 'P', 'F'][CAST(1 + hash(i, 2, {s}) % 3 AS BIGINT)] AS o_orderstatus,
              CAST(round(1000 + (hash(i, 3, {s}) % 49900000) / 100.0, 2) AS DOUBLE) AS o_totalprice,
              CAST(DATE '1995-01-01' + CAST(hash(i, 4, {s}) % 2404 AS INTEGER) AS TIMESTAMP) AS o_orderdate,
              ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][CAST(1 + hash(i, 5, {s}) % 5 AS BIGINT)] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""
            SELECT CAST(hash(i, 1, {s}) % {n_ord} AS BIGINT) AS l_orderkey,
              CAST(hash(i, 2, {s}) % {parts} AS BIGINT) AS l_partkey,
              CAST(hash(i, 3, {s}) % {supps} AS BIGINT) AS l_suppkey,
              CAST(1 + hash(i, 4, {s}) % 7 AS INTEGER) AS l_linenumber,
              CAST(1 + hash(i, 5, {s}) % 50 AS DOUBLE) AS l_quantity,
              CAST(round(900 + (hash(i, 6, {s}) % 10000000) / 100.0, 2) AS DOUBLE) AS l_extendedprice,
              CAST((hash(i, 7, {s}) % 11) / 100.0 AS DOUBLE) AS l_discount,
              CAST((hash(i, 8, {s}) % 9) / 100.0 AS DOUBLE) AS l_tax,
              ['N', 'A', 'R'][CAST(1 + hash(i, 9, {s}) % 3 AS BIGINT)] AS l_returnflag,
              ['O', 'F'][CAST(1 + hash(i, 10, {s}) % 2 AS BIGINT)] AS l_linestatus,
              CAST(DATE '1995-01-02' + CAST(hash(i, 11, {s}) % 2498 AS INTEGER) AS TIMESTAMP) AS l_shipdate
            FROM range({n_li}) t(i)""",
        # one doc in five is a near-duplicate of an earlier doc (~10% of
        # its words changed), so the dedup queries have pairs to find
        "documents": f"""
            WITH b AS (
              SELECT i, CASE WHEN i > 0 AND hash(i, 1, {s}) % 5 = 0
                             THEN CAST(hash(i, 2, {s}) % i AS BIGINT) ELSE i END AS base
              FROM range({n_doc}) t(i)),
            v AS (SELECT ['batch','part','spark','line','column','order','small','sort','fast',
                          'value','scan','a','hash','slow','group','agg','filter','query','big',
                          'key','window','vector','table','stream','the','customer','data','join']
                         AS w),
            t AS (
              SELECT i, array_to_string(list_transform(
                       range(10 + CAST(hash(base, 3, {s}) % 50 AS BIGINT)),
                       k -> CASE WHEN base <> i AND hash(i, k + 100, {s}) % 10 = 0
                                 THEN w[CAST(1 + hash(i, k + 200, {s}) % 28 AS BIGINT)]
                                 ELSE w[CAST(1 + hash(base, k + 300, {s}) % 28 AS BIGINT)] END), ' ') AS text
              FROM b, v)
            SELECT i AS doc_id, text,
              ['en', 'en', 'en', 'de', 'fr', 'zh', 'es'][CAST(1 + hash(i, 4, {s}) % 7 AS BIGINT)] AS lang,
              'src' || CAST(hash(i, 5, {s}) % 20 AS VARCHAR) AS source,
              CAST(length(text) AS BIGINT) AS n_chars
            FROM t""",
        "embeddings": f"""
            WITH l AS (SELECT i, CAST(hash(i, 1, {s}) % 10 AS INTEGER) AS label FROM range({n_emb}) t(i))
            SELECT i AS vec_id,
              list_transform(range(64), d -> CAST(
                ((hash(label, d + 1000, {s}) % 2000) / 1000.0 - 1.0) * 0.2 +
                ((hash(i, d + 2000, {s}) % 2000) / 1000.0 - 1.0) * 0.05 AS FLOAT)) AS embedding,
              label
            FROM l""",
    }
    for name, sql in tables.items():
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 10000000)")
    con.close()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def oracle_check(workdir, data_dir, drop_row):
    """Spark results vs the registry's DuckDB oracle SQL: (checked, problems)."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
    except Exception:
        pass
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    with open(os.path.join(workdir, "oracle.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        qdir = os.path.join(workdir, "results", name)
        if not os.path.isdir(qdir):
            problems.append(f"{name}: no Spark result")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchall()
            gcols = [d[0] for d in con.description]
            rel = con.sql(sql)
            exp, ecols = rel.fetchall(), rel.columns
        except Exception as e:
            problems.append(f"{name}: {e}")
            continue
        if drop_row and got:
            got = got[1:]  # self-test hook: lose one result row
            drop_row = False
        gc, g = canon(got, gcols)
        ec, e = canon(exp, ecols)
        if gc != ec:
            problems.append(f"{name}: columns {gc} != {ec}")
        elif g != e:
            problems.append(f"{name}: {len(g)} Spark rows vs {len(e)} oracle rows, "
                            f"{len(set(g) ^ set(e))} differ")
    return len(oracle), problems


# ---------------------------------------------------------------- engine

def run_jvm(args, workdir):
    heap = "2g"
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([os.path.join(os.environ.get("JAVA_HOME", "/usr"), "bin", "java")
            if os.environ.get("JAVA_HOME") else "java",
            # a fixed heap: G1 growing it from a small start made GC time,
            # and so round times, differ from run to run
            f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.level=error"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{CLASSES}{os.pathsep}{spark_jars}", "wirebench.Main"] + args)
    err_path = os.path.join(workdir, "engine.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise SystemExit(f"engine run exceeded {JVM_TIMEOUT_S} s")
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # the generator, if still alive
            except ProcessLookupError:
                pass
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if not lines:
        sys.stderr.write(open(err_path).read()[-6000:])
        raise SystemExit(f"engine printed no result (exit {p.returncode})")
    return json.loads(lines[-1][len("RESULT "):])


def one_run(a, spec, workdir):
    """Run one workload; returns the final record and the info record."""
    cores = os.cpu_count()
    data_dir = os.path.join(workdir, "data")
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cpus": os.cpu_count(), "cores": cores, "load1_start": load1(), "steal_s": -steal_s(),
            "source_sha": a.digest[:16]}
    try:
        info["commit"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                        text=True, timeout=10).stdout.strip() or "none"
    except Exception:
        info["commit"] = "none"
    # the traced burst run measures the batch layers on generated tables
    if a.workload == "ingest_burst" and a.trace:
        t = time.time()
        generate_tables(data_dir, a.seed, 0.002 if a.tiny else 0.1)
        info["datagen_s"] = round(time.time() - t, 3)
    jvm_args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), workdir, data_dir,
                str(cores), a.corrupt, "tiny" if a.tiny else "full"]
    r = run_jvm(jvm_args, workdir)
    if os.path.exists(os.path.join(workdir, "oracle.json")):
        checked, problems = oracle_check(workdir, data_dir, a.corrupt == "batch_drop")
        # the engine counted each query once as attempted; a mismatch fails it
        r["failed"] += len(problems)
        r["problems"] += problems
        info["oracle_checked"] = checked
    metrics = r["metrics"]
    info.update(r.get("info", {}))
    info["load1_end"] = load1()
    info["steal_s"] = round(info["steal_s"] + steal_s(), 2)
    info["problems"] = r["problems"]
    attempted = max(int(r["attempted"]), 1)
    failed = int(r["failed"])
    info["error_rate"] = failed / attempted
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        name = m["name"]
        if name in metrics and metrics[name]["value"] is not None:
            out[name] = {"value": metrics[name]["value"], "unit": m["unit"]}
        elif a.trace:
            out[name] = {"value": 0.0, "unit": m["unit"]}  # layer not exercised by this workload
        else:
            failed += 1
            info["problems"].append(f"metric {name} was not measured")
    record = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    return record, info


def selftest(a, spec):
    """Tiny runs of every workload, plus negative cases that must fail."""
    cases = [(w, "none", 0) for w in WORKLOADS] + [("ingest_burst", "none", 1)] + [
        ("ingest_burst", "drop", 0), ("ingest_paced", "alter", 0), ("ingest_burst", "batch_drop", 1)]
    bad = 0
    for w, corrupt, trace in cases:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "7",
               "--seconds", "3", "--trace", str(trace), "--tiny", "--corrupt", corrupt]
        t = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            rec = json.loads(last)
        except ValueError:
            rec = None
        if corrupt == "none":
            ok = p.returncode == 0 and rec is not None and rec["correct"] and rec["failed"] == 0
        else:
            ok = p.returncode != 0 and rec is not None and rec["failed"] > 0
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {w} trace={trace} corrupt={corrupt} "
              f"exit={p.returncode} ({time.time() - t:.0f} s)", flush=True)
        if not ok:
            sys.stdout.write(p.stderr[-3000:])
    print(f"== selftest: {len(cases) - bad} pass, {bad} fail ==")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="harness self-test scale")
    ap.add_argument("--corrupt", choices=("none", "drop", "alter", "batch_drop"), default="none",
                    help="lose or change one sink record, or lose one batch-suite result row "
                         "(self-test of the checks)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME is not set")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.selftest:
        return selftest(a, spec)
    if not a.workload:
        ap.error("--workload is required")

    work_root = os.path.join(ROOT, ".wirebench")
    workdir = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        a.digest = source_digest()
        build(a.digest, workdir)
        record, info = one_run(a, spec, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    print("# info " + json.dumps(info, sort_keys=True))
    print(json.dumps(record))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
