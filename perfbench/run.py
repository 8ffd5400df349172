"""graft's benchmark: one command, every metric by name, outputs checked.

    python3 perfbench/run.py --workload <view_refresh|analytics|ingest_cow>
        --seed <n> --seconds <s> --trace <0|1>

Each run builds graft from source if needed (perfbench/build.py), writes the
workload's seeded inputs under .bench_work/, and starts one JVM that runs one
closed-loop client on local[nproc]: it sets up (timed), warms up, runs
operations for `--seconds`, rounded up to whole cycles and at least one, then
checks the outputs. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
BENCHMARK.json's end-to-end ones; with --trace 1 its per-layer ones, from
Spark listeners and from spans around the calls into each graft module. A
traced run measures two or more cycles and traces each kind of operation in
every other one, with the listeners registered only around traced
operations; trace.overhead is the geometric-mean latency of its traced
operations over that of its untraced ones, minus one, kind by kind. The
latency metrics are taken over a median cycle: each kind of operation (a
query, or a poll's place in the compaction cycle) at its median latency.

Every run also feeds each gate a corrupted expectation (a dropped delete, a
wrong group sum, a wrong query result) and requires it to be rejected. A
wrong output, or a gate that accepts the corruption, prints "correct": false
and exits 1. `--size tiny` serves perfbench/selftest.py. perfbench/ledger.json
says what each workload runs and which metric each layer should move.
"""
import argparse
import datetime
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

# The fixed analytics mix (SparkEntry.queries): relational, events, text and
# vector operators. None touches WarehouseTable, streaming or an at-rest index.
QUERY_MIX = [
    "q01_pricing_summary", "q02_revenue_by_nation", "q132_correlated_avg",
    "q04_dedup_latest", "q05_merge_upsert", "q19_sessionize",
    "q07_exact_dedup", "q12_minhash_lsh", "q38_tfidf_topterms",
    "q14_cosine_topk", "q72_kmeans_codebook", "q21_rollup",
]
ANALYTICS_SF = {"full": 0.01, "tiny": 0.002}
# polls generated: two view cycles plus two per second of measurement, more
# than a run can consume
POLLS_PER_S = 2
SETUP_REPS = 3
RUN_LIMIT_S = 170


def jvm_cmd(cp, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=%s" % (work / "tmp")]
    for o in opens:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % o]
    cmd += ["-cp", cp, "graftbench.Main"]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    return cmd


def run_jvm(cmd, work, deadline):
    """Runs the harness JVM in its own process group; kills it at the deadline."""
    # Spark's scratch space stays in the work directory even where the
    # environment points SPARK_LOCAL_DIRS elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True, env=env)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("run: the harness exceeded the run's time limit")
    if p.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit("run: the harness failed (exit %d)" % p.returncode)
    return out


def check_cdc(res, logs):
    """The table must equal the independent fold of the consumed CDC log.

    Returns the mismatches against the fold and against a corrupted fold that
    drops one delete; the second must not be empty.
    """
    import pyarrow.parquet as pq
    t = pq.read_table(res["final_table"]).select(gen.TABLE_COLS).to_pylist()
    # the CSV scan infers `orderdate` as a date; the log holds ISO strings
    got = gen.row_digest(tuple(v.isoformat() if isinstance(v, datetime.date) else v
                               for v in (r[c] for c in gen.TABLE_COLS)) for r in t)
    def diff(drop):
        want = gen.row_digest(gen.fold(logs, res["committed_messages"], drop_first_delete=drop))
        return [] if got == want else [
            "table (rows, hash) %s != fold of the CDC log %s" % (got, want)]
    return diff(False), diff(True)


def check_oracle(work, data):
    """Warm-up results must match DuckDB running SparkEntry.oracleSql, by the
    comparison rules of tools/check_oracle.py (exact cells, sorted rows).

    Returns the mismatches against the oracle and against a corrupted oracle
    whose first result has one wrong cell; the second must not be empty.
    """
    import duckdb
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, data, t))
    oracle = json.loads((work / "oracle_sql.json").read_text())
    def diff(name, got, want):
        (gc, gr), (wc, wr) = got, want
        if gc != wc or len(gr) != len(wr):
            return ["%s: columns or row count differ from the oracle" % name]
        if not all(co.eq(x, y)[0] for a, b in zip(gr, wr) for x, y in zip(a, b)):
            return ["%s: cells differ from the oracle" % name]
        return []
    errors, corrupted = [], []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        got = con.execute("SELECT * FROM read_parquet('%s/query_out/%s/*.parquet')" % (work, name))
        got = co.canon(got.fetchall(), [d[0] for d in got.description])
        want = con.execute(sql)
        want = co.canon(want.fetchall(), [d[0] for d in want.description])
        errors += diff(name, got, want)
        if i == 0:
            wr = list(want[1]) or [("",)]
            wr[0] = ("corrupted",) + tuple(wr[0][1:])
            corrupted = diff(name, got, (want[0], wr))
    return errors, corrupted


def median_cycle(ops):
    """The median latency of each kind of operation; a cycle holds one of each."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["label"], []).append(o["s"])
    return [statistics.median(v) for v in kinds.values()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest_cow", "view_refresh", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build.build()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    work = ROOT / ".bench_work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = {"workload": a.workload, "work": work, "seconds": a.seconds, "trace": a.trace,
            "cpus": len(os.sched_getaffinity(0)), "seed": a.seed,
            "setup_reps": SETUP_REPS}

    t0 = time.time()
    logs = plan = None
    if a.workload == "analytics":
        inputs = work / "data"
        gen.write_analytics(str(inputs), a.seed, ANALYTICS_SF[a.size])
        args.update(data=inputs, queries=",".join(QUERY_MIX))
    else:
        traffic = gen.TINY_CDC if a.size == "tiny" else gen.CDC_TRAFFIC
        plan, logs = gen.write_cdc(str(work / "cdc"), a.seed,
                                   int(16 + a.seconds * POLLS_PER_S), traffic)
        (work / "plan.json").write_text(json.dumps(plan))
        args.update(plan=work / "plan.json")
    gen_s = time.time() - t0

    spawned = time.time()
    run_jvm(jvm_cmd(cp, work, args), work, deadline)
    res = json.loads((work / "result.json").read_text())
    errors = list(res["errors"])
    missed = ["view gate %s" % at for at in res["corruption_missed"]]
    if a.workload == "analytics":
        bad, corrupted = check_oracle(work, inputs)
        gate = "oracle gate (wrong query hash)"
    else:
        bad, corrupted = check_cdc(res, logs)
        gate = "fold gate (dropped delete)"
    errors += bad
    if not corrupted:
        missed.append(gate)
    for e in errors:
        print("MISMATCH " + e, file=sys.stderr)
    for m in missed:
        print("GATE BLIND: %s accepted a corrupted expectation" % m, file=sys.stderr)
    if not missed:
        print("gates reject every corrupted expectation", file=sys.stderr)

    ops = res["ops"]
    done = [o["s"] for o in ops if o["ok"]]
    if not done:
        raise SystemExit("run: every operation failed")
    setup = (gen_s + (res["session_ready_ms"] / 1000.0 - spawned)
             + statistics.median(res["setup_reps_s"]) + res["warmup_s"])
    print("[bench] inputs %.1fs, session %.1fs, set-ups %s, warm-up %.1fs, %d ops in %.1fs, run %.1fs"
          % (gen_s, res["session_ready_ms"] / 1000.0 - spawned,
             "/".join("%.1f" % x for x in res["setup_reps_s"]), res["warmup_s"],
             len(ops), sum(o["s"] for o in ops), time.time() - started), file=sys.stderr)
    if a.trace:
        layers = dict(res["layers"])
        traced = median_cycle([o for o in ops if o["ok"] and o["traced"]])
        plain = median_cycle([o for o in ops if o["ok"] and not o["traced"]])
        layers["trace.overhead"] = (statistics.geometric_mean(traced) /
                                    statistics.geometric_mean(plain) - 1
                                    if traced and plain else 0.0)
        consumed = (res.get("committed_messages", 1) - 1) // plan["messages_per_poll"] if plan else 0
        touched = plan["partitions_touched"][plan["warmup_polls"]:consumed] if plan else []
        layers["workload.partitions_touched_per_poll"] = (statistics.mean(touched)
                                                           if touched else 0.0)
        values, declared = layers, spec["per_layer"]
    else:
        # a median cycle: each kind of operation at its median latency over
        # the run's cycles; the geometric mean weighs every kind alike
        cyc = median_cycle([o for o in ops if o["ok"]])
        values = {"setup_s": setup, "op_s.geomean": statistics.geometric_mean(cyc),
                  "ops_per_s": len(cyc) / sum(cyc)}
        declared = spec["end_to_end"]
    if set(values) != {m["name"] for m in declared}:
        raise SystemExit("run: metrics %s differ from BENCHMARK.json" % sorted(values))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    correct = not errors and not missed
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(ops) - len(done), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
