#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

  python3 perfbench/run.py --workload crawl|analytics \
      --seed N --seconds S --trace 0|1 [--smoke] [--inject-failure] [--record]

Builds the engine and the harness from source (perfbench/build.py), makes
the workload's inputs from the seed, runs one JVM with Spark local[4],
checks every output, prints a human-readable report and, as the last line
of stdout, one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the span tree is written
to .bench_build/spans/. See perfbench/README.md.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("crawl", "analytics")
ANALYTICS_SCALE = {False: 0.01, True: 0.002}
RUN_LIMIT_S = 170
EXPECTED = BENCH / "expected_queries.json"
# Oracle SQL of these queries is a VALUES list pinned to the 500-document
# sf0.01 correctness tables. On generated data the expected rows of the
# first three are recomputed from documents.parquet by an implementation
# independent of the engine (tools/golden_recompute.py); the last one's
# are recorded from the engine.
RECOMPUTED = {"q_dedup_simhash", "q_sentiment_buckets", "q_text_fingerprint"}
DATA_PINNED = RECOMPUTED | {"q_summary_containment"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# The broadcast fetch-join gate (CrawlRound.broadcastRowGate), lowered so
# that at this corpus size the large early rounds select more rows than the
# gate and the politeness-bound rounds fewer: both fetch-join branches run.
CRAWL_ENV = {"GRAFT_BCAST_GATE": "1000"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_size():
    """Heap: half the machine's memory in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_jvm(classes, args, work, env_extra, deadline):
    jars = Path(os.environ["SPARK_HOME"]) / "jars"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}",
            "graft.perfbench.Main"] + args
    env = dict(os.environ, **env_extra)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            cwd=str(work))
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("benchmark JVM overran the run time limit and was stopped")
        return None


def canon(v):
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, decimal.Decimal):
        return format(float(v), ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def digest(con, sql):
    """(row count, order-insensitive hash of the rows, columns by name)."""
    cur = con.execute(sql)
    return digest_rows([d[0] for d in cur.description], cur.fetchall())


def digest_rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(("\x1e".join(sorted(names)) + "\n" +
                        "\n".join(lines)).encode()).hexdigest()[:20]
    return len(rows), h


def check_queries(data, out, ran, skip, scale_key, record):
    """Compare each query's output (row count + order-insensitive
    hash) with expected_queries.json. Expected values of SQL-expressible
    queries were computed by DuckDB running the query's oracle SQL on the
    same generated tables, three were recomputed independently of the
    engine, and the remaining one was recorded from the engine. With
    `record` the expected values are recomputed and stored instead (DuckDB
    must agree with the engine on every oracle-backed or recomputed
    query)."""
    import duckdb
    con = duckdb.connect()
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    want_all = expected.get(scale_key, {})
    got_all = {}
    for q in sorted(ran):
        if q not in skip:
            got_all[q] = (digest(con, f"SELECT * FROM read_parquet('{out / q}/*.parquet')")
                          if any((out / q).glob("*.parquet")) else (0, None))
    if record:
        return record_expected(con, data, out, got_all, expected, scale_key)
    failures = []
    for q, got in got_all.items():
        w = want_all.get(q)
        if w is None:
            failures.append(f"{q}: no expected value (re-record with --record)")
        elif got != (w["rows"], w["hash"]):
            failures.append(f"{q}: rows/hash {got} != {w['source']} "
                            f"{(w['rows'], w['hash'])}")
    return failures


def recompute(data):
    """Expected rows of the RECOMPUTED queries, from documents.parquet."""
    import pyarrow.parquet as pq
    sys.path.insert(0, str(ROOT / "tools"))
    import golden_recompute as gr
    docs = pq.read_table(data / "documents.parquet",
                         columns=["doc_id", "text"]).to_pydict()
    pairs = list(zip(docs["doc_id"], docs["text"]))
    return {
        "q_sentiment_buckets": digest_rows(["label", "cnt", "score_milli_sum"],
                                           gr.sentiment_buckets(docs["text"])),
        "q_text_fingerprint": digest_rows(["doc_id", "fp"], gr.fingerprints(pairs)),
        "q_dedup_simhash": digest_rows(["id_a", "id_b", "hamming"],
                                       gr.simhash_pairs(pairs)),
    }


def record_expected(con, data, out, got_all, expected, scale_key):
    oracle = json.loads((out / "oracle_sql.json").read_text())
    for t in data.glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    recomputed = recompute(data)
    rec, failures = {}, []
    for q, got in sorted(got_all.items()):
        if q in RECOMPUTED:
            want, source = recomputed[q], "recompute"
        elif q in oracle and q not in DATA_PINNED:
            want, source = digest(con, oracle[q]), "duckdb"
        else:
            want, source = got, "engine"
        if want != got:
            failures.append(f"{q}: engine {got} != {source} {want}")
        rec[q] = {"rows": want[0], "hash": want[1], "source": source}
    if not failures:
        expected[scale_key] = rec
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
        log(f"recorded {len(rec)} expected query digests at scale {scale_key}")
    return failures


def fmt(v):
    return "null" if v is None else f"{v:.6g}" if isinstance(v, float) else str(v)


def report(res, wl, metrics, attempted, failed, failures, spans):
    """Human-readable lines: the pass's figures under the names the
    workload gives them, fail_ratio with its base, the run's context."""
    lines = [f"== {wl} seed={res['seed']} trace={int(res['trace'])}"]
    lines += [f"  {f['name']:<16} {fmt(f['value']):>12} {f['unit']}"
              for f in res["figures"]]
    lines.append(f"  {'fail_ratio':<16} {fmt(failed / attempted):>12} ratio "
                 f"({failed} failed of {attempted} attempted ops)")
    lines += [f"  FAILED: {f}" for f in failures[:20]]
    lines += [f"  metric {k} = {fmt(m['value'])} {m['unit']}" for k, m in metrics.items()]
    lines.append("  context " + json.dumps(res["context"], sort_keys=True))
    if res.get("traced_pass"):
        lines.append("  traced " + json.dumps(
            {k: v for k, v in res["traced_pass"].items() if k != "rounds"},
            sort_keys=True))
    if res.get("probes"):
        lines.append("  probes " + json.dumps(res["probes"], sort_keys=True))
    if spans:
        lines.append(f"  spans {spans}")
    print("\n".join(lines), flush=True)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted for the benchmark's command line; a run "
                    "times one cold pass, which lasts about run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; for checking the harness, not timing")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one op that must fail (self-check of fail counting)")
    ap.add_argument("--record", action="store_true",
                    help="store the analytics outputs as the recorded expected values")
    a = ap.parse_args()
    start = time.monotonic()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.build()
    # the first run in a checkout builds; the run limit starts after that
    deadline = time.monotonic() + RUN_LIMIT_S
    base = ROOT / ".bench_build"
    work = base / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--trace", str(a.trace),
                "--work", str(work), "--out", str(work / "result.json")]
        if a.smoke:
            args.append("--smoke")
        if a.inject_failure:
            args.append("--inject-failure")
        if a.workload == "analytics":
            data = work / "data"
            gen_tables.generate(str(data), ANALYTICS_SCALE[a.smoke], 42)
            args += ["--data", str(data)]
        crawl = a.workload == "crawl"
        log(f"inputs ready at {time.monotonic() - start:.1f} s")
        code = run_jvm(classes, args, work, CRAWL_ENV if crawl else {}, deadline)
        log(f"benchmark JVM done at {time.monotonic() - start:.1f} s")
        if code != 0 or not (work / "result.json").exists():
            log(f"benchmark JVM failed (exit {code}); no result")
            return 1
        res = json.loads((work / "result.json").read_text())
        for k in ("e2e", "layers"):  # empty objects arrive as []
            res[k] = res[k] or {}
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "analytics":
            threw = {f.split(" ", 1)[0] for f in failures}
            ran = [op.removeprefix("query.") for op in res["ops"]]
            chk = check_queries(work / "data", work / "query-out", ran, threw,
                                str(ANALYTICS_SCALE[a.smoke]), a.record)
            failures += chk
            failed += len(chk)

        units = {m["name"]: m["unit"] for m in
                 spec["per_layer" if a.trace else "end_to_end"]}
        source = res["layers"] if a.trace else res["e2e"]
        missing = [k for k in units if source.get(k) is None]
        if missing:
            log(f"metrics missing from the run: {missing}")
            return 1
        metrics = {k: {"value": source[k], "unit": u} for k, u in units.items()}

        spans = None
        if res.get("span_file"):
            dst = base / "spans" / f"{a.workload}-seed{a.seed}.json"
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(res["span_file"], dst)
            spans = dst.relative_to(ROOT)
        log(f"checks done at {time.monotonic() - start:.1f} s")
        report(res, a.workload, metrics, attempted, failed, failures, spans)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
