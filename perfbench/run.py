#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use, generates
the workload's inputs from the seed, runs one JVM (``local[nproc]``, one
job at a time) that sets up, measures for S seconds and checks every
output, then prints a detailed record line followed by the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("ingest_new", "ingest_updates")
CORPUS_DOCS = 500
DEADLINE_S = 170  # per run, after the build
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def canon(cols, rows):
    """Columns sorted by name, rows sorted by value, floats rounded."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = [tuple(round(r[i], 6) if isinstance(r[i], float) else r[i]
                  for i in order) for r in rows]
    return [cols[i] for i in order], sorted(
        norm, key=lambda r: tuple((x is None, str(x)) for x in r))


def same(a, b):
    return a == b or (isinstance(a, (int, float)) and isinstance(b, (int, float))
                      and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6))


def check_curation(work):
    """Compares the traced run's collected composition with its DuckDB
    oracle over the same generated corpus; returns (failed, messages).
    """
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(work, 'corpus', 'documents.parquet')}'")
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    expected = {}
    for q, sql in oracles.items():
        r = con.execute(sql)
        expected[q] = canon([d[0] for d in r.description], r.fetchall())
    got = json.load(open(os.path.join(work, "curation_rows.json")))
    failed, msgs = 0, []
    for q, (ocols, orows) in expected.items():
        cols, rows = canon(got[q]["columns"], [tuple(r) for r in got[q]["rows"]])
        if not (cols == ocols and len(rows) == len(orows) and all(
                same(x, y) for a, b in zip(rows, orows) for x, y in zip(a, b))):
            failed += 1
            msgs.append(f"{q}: spark {rows[:2]} oracle {orows[:2]}")
    return failed, msgs


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build.build()
    started = time.time()

    work = os.path.join(build.OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out]
    if a.trace:
        import corpus
        os.makedirs(os.path.join(work, "corpus"))
        corpus.write(os.path.join(work, "corpus", "documents.parquet"),
                     a.seed, CORPUS_DOCS)
        args += ["--corpus", os.path.join(work, "corpus")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *[f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JVM_OPENS],
           "-cp", build.classpath(), "graft.perfbench.Main", *args]
    jvm_started = time.time()
    with open(os.path.join(work, "jvm.out"), "wb") as so, \
            open(os.path.join(work, "jvm.err"), "wb") as se:
        proc = subprocess.Popen(cmd, stdout=so, stderr=se, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(os.path.join(work, "jvm.err"), errors="replace")
                         .read()[-4000:])
        sys.exit(f"benchmark JVM failed: {rc}")

    record = json.load(open(out))
    record["wall_s"] = {"jvm": time.time() - jvm_started}
    if a.trace:
        checked = time.time()
        f, msgs = check_curation(work)
        record["failed"] += f
        record["failures"] += msgs[:20]
        record["wall_s"]["oracle_check"] = time.time() - checked
    record["wall_s"]["total"] = time.time() - started
    record["failed_frac"] = record["failed"] / record["attempted"]
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = record.get("layers", {}) if a.trace else {
        k: v["value"] for k, v in record["metrics"].items()}
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        sys.exit(f"metrics missing from the run: {missing}")
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
