#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve-light --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program with
the repository's own sbt build, then the harness in perfbench/harness
against it, and writes the sf0.1 tables; later runs reuse all three
from .bench_build/ while the sources are unchanged. Each run starts a
fresh JVM (perfbench.Harness), checks every answer against DuckDB,
deletes the Spark and state directories it made, and prints one JSON
object as its last line. README.md in this directory documents the
workloads and metrics.
"""
import argparse
import base64
import decimal
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

sys.dont_write_bytecode = True  # nothing written beside the sources
import gen_data  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# a run, from the end of the build to its result, stays within this
RUN_BUDGET_S = 170
JVM_HEAP = "2g"
# serve-light's closed-loop warm-up before the timed region
WARM_SECONDS = 6

WORKLOADS = ("serve-light", "graph-batch")

# graft.Emu.DefaultTemplates, each with its SQL translation: a query
# that maps every drawn value to the answer graft must print.
TEMPLATES = [
    ("g.V().has('nationkey', eq($RAND(nationkey))).count()", "nationkey",
     "SELECT c_nationkey AS k, count(*) AS v FROM customer GROUP BY 1"),
    ("g.V().has('name', eq($RAND(name))).out('placed').values('totalprice').sum()",
     "name",
     "SELECT c.c_name AS k, sum(o.o_totalprice) AS v FROM customer c "
     "JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY 1"),
    ("g.V().hasLabel('part').has('brand', eq($RAND(brand))).in('contains').count()",
     "brand",
     "SELECT p.p_brand AS k, count(*) AS v FROM "
     "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) e "
     "JOIN part p ON p.p_partkey = e.l_partkey GROUP BY 1"),
    ("g.V().has('mktsegment', eq($RAND(mktsegment))).out('placed')"
     ".has('totalprice', gt(100000.0)).count()", "mktsegment",
     "SELECT c.c_mktsegment AS k, count(*) AS v FROM customer c "
     "JOIN orders o ON o.o_custkey = c.c_custkey "
     "WHERE o.o_totalprice > 100000.0 GROUP BY 1"),
]
# every distinct value of each $RAND key, drawn from the tables
POOLS = {
    "nationkey": "SELECT DISTINCT c_nationkey FROM customer ORDER BY 1",
    "name": "SELECT c_name FROM customer UNION SELECT p_name FROM part ORDER BY 1",
    "brand": "SELECT DISTINCT p_brand FROM part ORDER BY 1",
    "mktsegment": "SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1",
}

GRAPH_OPS = ["graph_kcore", "graph_lpa_sync", "graph_scc", "graph_components",
             "graph_pagerank", "graph_cc_compacted"]
ORACLED_GRAPH_OPS = [g for g in GRAPH_OPS if g != "graph_pagerank"]

# serve-light builds an index on each template key at set-up, as
# graft.NetEmu does
SERVE_INDEXES = ["nationkey", "name", "brand", "mktsegment"]
INDEX_METRICS = ["index.build_ms." + key for key in SERVE_INDEXES]

# sbt's temporary files stay in the checkout, where a deep checkout path
# can exceed the unix-socket name limit of sbt's boot lock socket; the
# builds run one at a time, so sbt may go on without that socket
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            "-Dsbt.server.autostart=false -Dsbt.server.forcestart=true")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


CHILD = None  # the one child process running, if any


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout
    (returns None) or when this process is told to stop."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)
    try:
        return CHILD.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_child()
        return None
    finally:
        CHILD = None


def kill_child():
    if CHILD is not None and CHILD.poll() is None:
        try:
            os.killpg(CHILD.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        CHILD.wait()


def on_signal(signum, _frame):
    kill_child()
    sys.exit(128 + signum)


def cores():
    """What `nproc` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=1):
    log("perfbench: " + msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def tree_files(*rels):
    out = []
    for rel in rels:
        p = os.path.join(ROOT, rel)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            # build outputs: target/ anywhere, sbt's nested project/project
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and os.path.basename(d) == "project"))
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    files = tree_files("build.sbt", "project", "src/main",
                       "perfbench/harness/build.sbt",
                       "perfbench/harness/project/build.properties",
                       "perfbench/harness/src")
    for f in files:
        if f.endswith((".sbt", ".scala", ".java", ".properties")):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt(cwd, args, env_extra, logfile):
    env = dict(os.environ, COURSIER_MODE="offline", **env_extra)
    opts = SBT_OPTS
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.repository.config={repos}"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] = opts + f" -Djava.io.tmpdir={tmp}"
    # also for the JVMs the sbt script starts without SBT_OPTS
    env["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                f"-Djna.tmpdir={tmp}")
    with open(logfile, "w") as lf:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args,
                         800, cwd=cwd, env=env, stdout=lf,
                         stderr=subprocess.STDOUT)
    with open(logfile) as lf:
        lines = lf.read().splitlines()
    if code != 0:
        log("\n".join(lines[-40:]))
        die(f"sbt failed in {cwd} (log: {logfile})")
    cps = [l for l in lines if l.startswith("/") and os.pathsep in l or
           (l.startswith("/") and l.endswith(".jar"))]
    if not cps:
        die(f"no classpath in sbt output (log: {logfile})")
    return cps[-1].strip()


def build():
    """Compile program + harness unless this source tree is built."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} here: run from the root of a graft checkout", 2)
    key = source_hash()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "harness.classpath")
    if os.path.exists(stamp) and open(stamp).read().strip() == key \
            and os.path.exists(cp_file):
        return open(cp_file).read().strip(), key
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    prog_cp = sbt(ROOT, ["compile", "export Runtime/fullClasspath"], {},
                  os.path.join(BUILD, "sbt-program.log"))
    prog_file = os.path.join(BUILD, "program.classpath")
    with open(prog_file, "w") as f:
        f.write(prog_cp + "\n")
    cp = sbt(os.path.join(ROOT, "perfbench", "harness"),
             ["compile", "export Runtime/fullClasspath"],
             {"PERFBENCH_PROGRAM_CLASSPATH": prog_file,
              "PERFBENCH_HARNESS_TARGET": os.path.join(BUILD, "harness-target")},
             os.path.join(BUILD, "sbt-harness.log"))
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    oracle = {}
    dump = os.path.join(BUILD, "oracle.out")
    with open(dump, "w") as f:
        code = run_child(java_cmd(cp, ["oracle"] + ORACLED_GRAPH_OPS),
                         120, stdout=f, stderr=subprocess.STDOUT)
    with open(dump) as f:
        text = f.read()
    if code != 0:
        log(text[-3000:])
        die("could not read the oracle SQL from the program")
    for line in text.splitlines():
        name, _, b64 = line.partition("\t")
        if b64:
            oracle[name] = base64.b64decode(b64).decode()
    with open(os.path.join(BUILD, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    with open(stamp, "w") as f:
        f.write(key + "\n")
    log(f"perfbench: built program and harness in {time.time() - t0:.0f} s")
    return cp, key


def java_cmd(cp, args, run_dir=None):
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap: GC work and young-generation size do not
    # depend on when the heap grew (a growing heap made serve-light ~25 %
    # slower and twice as noisy); the harness counts the heap in
    # rss_peak_mb by its use, not by this size
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    if run_dir:
        cmd += [f"-Dspark.local.dir={os.path.join(run_dir, 'spark')}",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    return cmd + ["-cp", cp, "perfbench.Harness"] + args


# ----------------------------------------------------------------- inputs

def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(BUILD, 'duckdb_tmp')}'")
    for t in gen_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def quote(v):
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "\\'") + "'"


def serve_tables(con):
    """Each $RAND key's values, and each template's value -> answer map."""
    pools = {k: [r[0] for r in con.sql(q).fetchall()] for k, q in POOLS.items()}
    answers = [dict(con.sql(sql).fetchall()) for _, _, sql in TEMPLATES]
    return pools, answers


def serve_ops(tables, seed, n):
    """n template instances (template i % 4, as graft.NetEmu cycles them)
    with seed-drawn values, and each one's expected answer rows."""
    pools, answers = tables
    rng = random.Random(seed)
    ops = []
    for i in range(n):
        t = i % len(TEMPLATES)
        text, key, _ = TEMPLATES[t]
        v = rng.choice(pools[key])
        q = text.replace(f"$RAND({key})", quote(v))
        a = answers[t].get(v)
        if t == 1 and a is None:
            expected = [(None,)]  # sum() over no orders: one null row
        else:
            expected = [(a if a is not None else 0,)]
        ops.append((f"template{t}", q, expected))
    return ops


def oracle_rows(con, sql, data_dir):
    """DuckDB's answer to `sql`, cached per data set and query."""
    path = os.path.join(BUILD, "oracle", hashlib.sha256(
        (data_dir + sql).encode()).hexdigest()[:24] + ".json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        return [tuple(r) for r in cached["rows"]], cached["cols"]
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = [tuple(norm(v) for v in r) for r in rel.fetchall()]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"cols": cols, "rows": rows}, f)
    return rows, cols


def norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < 2 ** 53:
        return int(v)
    return v


# ---------------------------------------------------------------- answers

def served_match(lines, expected):
    """graft's `=>v` lines against oracle rows, as multisets; floats to
    4 decimals (summation order)."""
    def canon(x):
        if x is None or x == "":
            return ("null",)
        if isinstance(x, float):
            return ("n", round(x, 4))
        if isinstance(x, int):
            return ("n", float(x))
        try:
            return ("n", round(float(x), 4))
        except ValueError:
            return ("s", x)
    if any(not l.startswith("=>") for l in lines):
        return False
    got = [(canon(l[2:]),) for l in lines]
    want = [tuple(canon(v) for v in r) for r in expected]
    return sorted(got) == sorted(want)


def render_rows(rows, cols):
    """The harness's rendering of a graph result: columns in name order,
    values joined by ',', rows sorted; md5 of the lines."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(",".join("" if r[i] is None else str(r[i]) for i in order)
                   for r in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def parse_graph_answer(a):
    f = dict(p.split("=", 1) for p in a.split(";", 2))
    rows = [r.split(",") for r in f["rows"].split("\x1f")] if f["rows"] else []
    return int(f["n"]), f["md5"], rows


def pagerank_ok(rows, n_vertices_ok):
    if len(rows) != 20:
        return False
    ids = [int(r[0]) for r in rows]  # columns in name order: id, rank_pos
    pos = sorted(int(r[1]) for r in rows)
    return pos == list(range(1, 21)) and all(n_vertices_ok(i) for i in ids)


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(lat):
    """Highest percentile with at least 10 samples beyond it; with 10 or
    fewer samples, the slowest one."""
    s = sorted(lat)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


# -------------------------------------------------------------------- run

def make_spec(args, data_dir, run_dir, con, oracle_sql):
    """Spec lines for the harness, and the expected answer per op id."""
    nproc = cores()
    spec = {"workload": args.workload, "data": data_dir,
            "seconds": str(args.seconds), "trace": str(args.trace),
            "out": os.path.join(run_dir, "result.tsv"),
            "state": os.path.join(run_dir, "state")}
    extra = []
    expected = {}
    names = {}
    if args.workload == "serve-light":
        spec.update(clients=str(nproc), unit="1")
        tables = serve_tables(con)
        ops = serve_ops(tables, args.seed, 4000)
        for i, (name, q, exp) in enumerate(ops):
            extra.append(f"op\t{i}\t{q}")
            expected[i], names[i] = exp, f"{name}: {q}"
        warm = serve_ops(tables, args.seed + 1_000_003, 400)
        extra += [f"warm\t{q}" for _, q, _ in warm]
        spec["warm_seconds"] = str(WARM_SECONDS)
        extra += [f"replay\t{i}\t{ops[i][1]}" for i in range(2 * len(TEMPLATES))]
        extra += [f"ddl\tindex.build_ms.{key}\tBuildIndex(V, '{key}')"
                  for key in SERVE_INDEXES]
    else:
        spec.update(clients="1", unit=str(len(GRAPH_OPS)))
        for i, g in enumerate(GRAPH_OPS):
            if g in oracle_sql:
                rows, cols = oracle_rows(con, oracle_sql[g], data_dir)
                expected[i] = render_rows(rows, cols)
            else:
                expected[i] = None
            names[i] = g
        # fixed order: kcore and lpa_sync share a memoized substrate, so
        # the order decides which of them pays for building it
        extra += [f"op\t{i}\t{g}" for i, g in enumerate(GRAPH_OPS)]
    lines = [f"{k}\t{v}" for k, v in spec.items()] + extra
    return lines, expected, names


def check(args, ops, expected, pagerank_seen):
    """(seq, op) of the operations with a right answer, and of the rest.
    `pagerank_seen` collects graph_pagerank's answers across runs of
    one build: they must all be equal."""
    good, bad = [], []
    for seq, op, _, _, ok, answer in ops:
        lines = answer.split("\x1f") if answer else []
        if args.workload == "graph-batch":
            right = ok
            if ok:
                n, md5, rows = parse_graph_answer(answer)
                if expected[op] is None:
                    right = pagerank_ok(rows, vertex_id_ok)
                    pagerank_seen.add(md5)
                else:
                    right = (n, md5) == expected[op]
        else:
            right = ok and served_match(lines, expected[op])
        (good if right else bad).append((seq, op))
    if args.workload == "graph-batch" and len(pagerank_seen) > 1:
        # every repetition of graph_pagerank must give the same top 20
        rank_op = GRAPH_OPS.index("graph_pagerank")
        moved = [(q, o) for q, o in good if o == rank_op]
        good = [(q, o) for q, o in good if o != rank_op]
        bad += moved
    return good, bad


def vertex_id_ok(i):
    n = gen_data
    return (0 <= i < n.N_CUSTOMER or
            1_000_000_000 <= i < 1_000_000_000 + n.N_ORDERS or
            2_000_000_000 <= i < 2_000_000_000 + n.N_PART)


def parse_result(path):
    m, ops, spans, replay, jobs, state = {}, [], [], [], [], []
    with open(path, encoding="utf-8") as f:
        for line in f:
            p = line.rstrip("\n").split("\t")
            kind = p[0]
            if kind == "m":
                m[p[1]] = float(p[2])
            elif kind == "op":
                ops.append((int(p[1]), int(p[2]), float(p[3]), float(p[4]),
                            p[5] == "1", p[6] if len(p) > 6 else ""))
            elif kind == "span":
                spans.append((p[1], float(p[2]), float(p[3]), p[4], p[5]))
            elif kind == "replay":
                replay.append((int(p[1]), p[2] == "1", int(p[3]), int(p[4]),
                               p[5] == "1", p[6] if len(p) > 6 else ""))
            elif kind == "jobs":
                jobs.append((p[1], int(p[2]), int(p[3])))
            elif kind == "state":
                state.append((int(p[1]), int(p[2]), int(p[3])))
    return m, ops, spans, replay, jobs, state


def per_op_ms(ops, names):
    """Each operation's latencies, in run order, by its name."""
    out = {}
    for _, op, s, e, _, _ in ops:
        out.setdefault(names[op].split(":")[0], []).append(round(e - s, 1))
    return out


def end_to_end(m, ops, good, setup_s):
    lat = [e - s for _, _, s, e, _, _ in ops]
    t, pct, beyond = tail(lat)
    region_s = m.get("region_ms", 0.0) / 1000.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(good) / region_s if region_s > 0 else 0.0, "1/s"),
        "p50_ms": (median(lat), "ms"),
        "tail_ms": (t, "ms"),
        "storage_mb": (m.get("storage_mb", 0.0), "MB"),
        "rss_peak_mb": (m.get("rss_peak_mb", 0.0), "MB"),
    }
    return e2e, {"tail_percentile": pct, "tail_samples_beyond": beyond,
                 "samples": len(lat)}


def per_layer(args, m, ops, spans, replay, jobs, state, e2e):
    layer = {}

    def put(name, value, unit):
        layer[name] = (float(value), unit)

    by_name = {}  # span name -> durations
    span_of = {}  # (span name, op id) -> duration
    for name, s, e, _, op in spans:
        by_name.setdefault(name, []).append(e - s)
        span_of[(name, op)] = e - s
    replay_ids = [r[0] for r in replay]

    def rmed(name):
        return median([span_of.get((name, str(i)), 0.0) for i in replay_ids])

    overhead = [span_of[("server.roundtrip", str(i))] -
                sum(span_of.get((n, str(i)), 0.0)
                    for n in ("gremlin.compile", "gremlin.plan", "gremlin.exec"))
                for i in replay_ids if ("server.roundtrip", str(i)) in span_of]
    put("server.overhead_ms", median(overhead), "ms")
    put("gremlin.parse_ms", rmed("gremlin.parse"), "ms")
    put("gremlin.compile_ms", rmed("gremlin.compile"), "ms")
    compile_jobs = {op: n for kind, op, n in jobs if kind == "compile"}
    put("gremlin.compile_jobs", sum(compile_jobs.values()), "count")
    put("gremlin.plan_ms", rmed("gremlin.plan"), "ms")
    put("gremlin.exec_ms", rmed("gremlin.exec"), "ms")
    put("gremlin.rows_scanned_per_result",
        median([scanned / max(1, rows) for _, _, rows, scanned, _, _ in replay]),
        "rows/row")
    put("index.seeded_share",
        sum(1 for r in replay if r[4]) / len(replay) if replay else 0.0, "ratio")
    for k in INDEX_METRICS:
        put(k, m.get(k, 0.0), "ms")
    put("index.build_ms", sum(v for k, v in m.items()
                              if k.startswith("index.build_ms.")), "ms")
    put("graphstore.load_ms", m.get("graphstore.load_ms", 0.0), "ms")
    for k, unit in [("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
                    ("spark.tasks_per_op", "count"), ("spark.task_s_per_op", "s"),
                    ("spark.sched_delay_ms", "ms"), ("spark.busy_share", "ratio"),
                    ("spark.driver_gap_share", "ratio"),
                    ("spark.shuffle_bytes_per_op", "bytes"),
                    ("spark.spill_bytes_per_op", "bytes"), ("jvm.gc_ms", "ms")]:
        put(k, m.get(k, 0.0), unit)
    op_jobs = {seq: n for kind, seq, n in jobs if kind == "op"}
    for g in GRAPH_OPS[:5]:
        short = g[len("graph_"):]
        seqs = [seq for seq, op, *_ in ops if args.workload == "graph-batch"
                and GRAPH_OPS[op] == g]
        put(f"graphalgos.{short}_ms", median(by_name.get(g, [])), "ms")
        put(f"graphalgos.{short}_jobs",
            median([op_jobs.get(s, 0) for s in seqs]), "count")
    put("statestore.ingest_ms", median(by_name.get("statestore.ingest", [])), "ms")
    put("statestore.compact_ms", median(by_name.get("statestore.compact", [])), "ms")
    edges = m.get("statestore.edges_ingested", 0.0)
    put("statestore.bytes_per_edge",
        median([b / edges for _, _, b in state]) if edges else 0.0, "bytes")
    put("statestore.files", median([f for _, f, _ in state]), "count")
    put("sweep.ms", median(by_name.get("sweep", [])), "ms")
    put("health.trivial_job_ms", m.get("health.trivial_job_ms", 0.0), "ms")
    put("health.cpu_spin_ms", m.get("health.cpu_spin_ms", 0.0), "ms")
    for k, (v, u) in e2e.items():
        put("traced." + k, v, u)
    return layer, compile_jobs


def record_path(args, trace, build_key):
    return os.path.join(BUILD, "records",
                        f"{args.workload}-s{args.seed}-t{trace}-{build_key}.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    cp, build_key = build()
    started = time.time()
    data_key = hashlib.sha256(open(gen_data.__file__, "rb").read()).hexdigest()[:12]
    data_dir = gen_data.ensure(os.path.join(BUILD, "data", "sf0.1-" + data_key))
    with open(os.path.join(BUILD, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = connect(data_dir)
    run_dir = os.path.join(BUILD, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark", "tmp", "state"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        spec_lines, expected, names = make_spec(
            args, data_dir, run_dir, con, oracle_sql)
        con.close()
        spec_path = os.path.join(run_dir, "spec.tsv")
        with open(spec_path, "w", encoding="utf-8") as f:
            f.write("\n".join(spec_lines) + "\n")
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
        jvm_log = os.path.join(run_dir, "jvm.log")
        spawn = time.time()
        with open(jvm_log, "w") as lf:
            code = run_child(java_cmd(cp, [spec_path], run_dir),
                             RUN_BUDGET_S - (spawn - started), env=env,
                             stdout=lf, stderr=subprocess.STDOUT)
        result = os.path.join(run_dir, "result.tsv")
        if code != 0 or not os.path.exists(result):
            with open(jvm_log, errors="replace") as f:
                log("".join(f.readlines()[-30:]))
            die(f"harness JVM failed ({code})")
        m, ops, spans, replay, jobs, state = parse_result(result)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    pr_file = os.path.join(BUILD, f"pagerank_answers-{build_key}.txt")
    pagerank_seen = set(open(pr_file).read().split()) if os.path.exists(pr_file) else set()
    good, bad = check(args, ops, expected, pagerank_seen)
    if args.workload == "graph-batch":
        with open(pr_file, "w") as f:
            f.write("\n".join(sorted(pagerank_seen)) + "\n")
    for seq, op in bad[:20]:
        log(f"perfbench: wrong answer or error: op {seq} ({names[op]})")
    # replayed queries (traced run) are answer-checked too
    replay_bad = [i for i, ok, _, _, _, ans in replay
                  if not (ok and served_match(ans.split("\x1f") if ans else [],
                                              expected[i]))]
    for i in replay_bad:
        log(f"perfbench: wrong answer in replay: {names[i]}")

    setup_s = m["setup_done_epoch_ms"] / 1000.0 - spawn
    e2e, tail_info = end_to_end(m, ops, good, setup_s)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "build_key": build_key,
              "seconds": args.seconds, "cores": cores(),
              "attempted": len(ops), "failed": len(bad),
              "end_to_end": {k: v for k, (v, _) in e2e.items()}, **tail_info,
              "health": {k: m[k] for k in m if k.startswith("health.")},
              "memory": {k: m[k] for k in m if k.startswith("mem.")},
              "wrong": [names[op] for _, op in bad][:50],
              "op_ms": per_op_ms(ops, names)}
    correct = not bad and not replay_bad
    if args.trace:
        layer, compile_jobs = per_layer(args, m, ops, spans, replay, jobs, state, e2e)
        # Graft.compile starts no Spark job for any template (only a
        # repeat_until traversal may, and no template is one)
        jobful = [names[op] for op, n in compile_jobs.items() if n > 0]
        if jobful:
            correct = False
            log("perfbench: Graft.compile ran Spark jobs for: " + ", ".join(jobful))
        record["compile_jobs"] = {names[op]: n for op, n in compile_jobs.items()}
        # the untraced run of the same build, workload and seed
        untraced = record_path(args, 0, build_key)
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["untraced"] = base
            record["tracing_overhead"] = {k: e2e[k][0] - base[k] for k in base}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(record_path(args, args.trace, build_key), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
