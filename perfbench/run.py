#!/usr/bin/env python3
"""The repository benchmark: the topic report flow and LLM-data curation
cold (cold_pipeline), a serve mix warm (serve_warm).

Run from the root of a source checkout:

    python3 perfbench/run.py --workload cold_pipeline --seed 1 --seconds 5 --trace 0

On first use it builds the engine and the harness from source (sbt,
offline). Each run executes one workload in a fresh JVM (the harness,
src/main/scala/perfbench), which writes the seeded corpus versions it needs
(corpus.py); this script then checks the outputs (DuckDB oracles with
tools/check_oracle.py's comparison rules, report invariants and, in traced
runs, the report hashes of a warm re-run), prints a summary and, as its
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer ones. The full record of each run is kept under
.bench_build/records/. The exit status is 0 only when every operation
succeeded and every check passed.
"""
import argparse
import concurrent.futures
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
WORKLOADS = ("cold_pipeline", "serve_warm")
SBT_OPTS = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "4g"
RUN_TIMEOUT_S = 160  # the whole command must end within 180 s


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(root):
    """sha256 over the engine and harness sources and build files."""
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, names in os.walk(os.path.join(root, base)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]  # sbt output
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".properties", ".sbt"))]
    files += [os.path.join(root, f) for f in ("build.sbt", "perfbench/build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, digest):
    """Compile engine + harness with sbt; cache the runtime classpath."""
    stamp = os.path.join(root, BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = list(SBT_OPTS)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, capture_output=True, text=True,
        timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise SystemExit("build produced no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


# ---- output checks ------------------------------------------------------------

def oracle_rules(root):
    """tools/check_oracle.py's canonical sort, value comparison and tables."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    return check_oracle


def frames_equal(got, exp, rules):
    """Column names, row count, then values after the canonical sort,
    floats to a 1e-12 relative tolerance."""
    got, exp = rules.canon(got), rules.canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not rules.values_equal(x, y):
                return f"col {c} row {i}: {x!r} != {y!r}"
    return None


def oracle_check(check):
    """One face output against its DuckDB oracle over the same version:
    (the face, its check time, the difference or None)."""
    import duckdb
    import pandas as pd
    t0 = time.perf_counter()
    rules = oracle_rules(check["root"])
    con = duckdb.connect()
    # one thread: parallel float sums reorder, and near-tied scores then
    # rank differently from run to run
    con.execute("SET threads = 1")
    for t in rules.TABLES:
        p = os.path.join(check["dir"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    try:
        diff = frames_equal(pd.read_parquet(check["out"]), con.execute(check["sql"]).fetchdf(),
                            rules)
    except Exception as e:  # a missing output or a broken oracle fails the face
        diff = f"{type(e).__name__}: {e}"
    return check["face"], time.perf_counter() - t0, diff and diff[:500]


def oracle_checks(checks, workers):
    """The queued oracle checks, `workers` at a time: the failures and each
    check's time."""
    if not checks:
        return [], {}
    with concurrent.futures.ProcessPoolExecutor(workers) as pool:
        done = list(pool.map(oracle_check, checks))
    return ([{"op": f"oracle:{f}", "error": d} for f, _, d in done if d],
            {f: s for f, s, _ in done})


def sheet_digest(path, rules):
    """Order-independent digest of one parquet sheet."""
    import pandas as pd
    df = rules.canon(pd.read_parquet(path))
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


SVGS = {"prep": ["word_frequency.svg"],
        "lda": ["word_frequency.svg", "lda_coherence_curve.svg",
                "topic_overlap.svg", "dominant_topics.svg"]}


def report_checks(checks, rules):
    """Topic report invariants and cold/re-run report hashes."""
    import pandas as pd
    failures, notes = [], []
    for c in checks:
        crawl = pd.read_parquet(os.path.join(c["dir"], "crawl.parquet"))
        contents = crawl["정제데이터"]
        first = crawl[~contents.duplicated(keep="first")]
        dedup_drops = len(crawl) - len(first)
        null_contents = int(first["정제데이터"].isna().sum())
        kept = first[first["정제데이터"].notna()]
        null_dates = int(pd.to_datetime(kept["시작 날짜"], format="%Y-%m-%d",
                                        errors="coerce").isna().sum())
        expect = len(crawl) - dedup_drops - null_contents - null_dates
        runs = [r for r in ("cold", "rerun") if r in c]
        for run in runs:
            out = c[run]

            def fail(msg):
                failures.append({"op": f"report:{run}", "error": msg})
            for part in ("prep", "bertopic", "lda"):
                manifest = os.path.join(out, part, "_report.json")
                if not os.path.exists(manifest):
                    fail(f"{part}: no report manifest")
                    continue
                with open(manifest) as f:
                    sheets = json.load(f)["sheets"]
                for name, d in sheets.items():
                    sheet = os.path.join(out, part, d)
                    if not os.path.isdir(sheet) or not any(
                            n.endswith(".parquet") for n in os.listdir(sheet)):
                        fail(f"{part}/{name}: sheet missing")
                for svg in SVGS.get(part, []):
                    if not os.path.exists(os.path.join(out, part, svg)):
                        fail(f"{part}/{svg}: figure missing")
            try:
                rows_out = len(pd.read_parquet(os.path.join(out, "prep", "pre_dataframe")))
                if rows_out != expect:
                    fail(f"EP1 rows out {rows_out} != {len(crawl)} in - {dedup_drops} dedup"
                         f" - {null_contents} null contents - {null_dates} null dates")
                topics = pd.read_parquet(os.path.join(out, "lda", "topics"))
                per_topic = topics.groupby("topic").size()
                if len(per_topic) != 10 or (per_topic != 10).any():
                    fail(f"LDA topics: {per_topic.to_dict()} (want 10 x 10)")
                dominant = pd.read_parquet(os.path.join(out, "lda", "dominant"))
                if dominant["n_docs"].sum() > rows_out:
                    fail(f"dominant n_docs sum {dominant['n_docs'].sum()} exceeds {rows_out} docs")
            except Exception as e:  # an unreadable sheet fails the report
                fail(f"{type(e).__name__}: {e}")
        if len(runs) == 2:
            for part in ("prep", "bertopic", "lda"):
                with open(os.path.join(c["cold"], part, "_report.json")) as f:
                    sheets = json.load(f)["sheets"]
                for name, d in sheets.items():
                    a = sheet_digest(os.path.join(c["cold"], part, d), rules)
                    b = sheet_digest(os.path.join(c["rerun"], part, d), rules)
                    if a != b:
                        failures.append({"op": f"report:hash:{part}/{name}",
                                         "error": "cold and re-run differ"})
        notes.append(f"EP1 {len(crawl)} in, {dedup_drops} dedup, {null_contents} null contents,"
                     f" {null_dates} null dates, {expect} out")
    return failures, notes


# ---- main ---------------------------------------------------------------------

def git_head(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except Exception:
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        log("run from the root of a source checkout (build.sbt and src/main are missing)")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    digest = source_digest(root)
    cp = build(root, digest)

    work = os.path.join(root, BUILD, f"work-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(root, BUILD, "records")
    os.makedirs(records, exist_ok=True)
    out = os.path.join(work, "record.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + JDK_OPENS +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dsun.jnu.encoding=UTF-8", "-Dfile.encoding=UTF-8", "-cp", cp,
            "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
            "--python", sys.executable, "--corpus", os.path.join(HERE, "corpus.py"),
            "--work", work, "--out", out])
    env = dict(os.environ, LC_ALL="C.UTF-8")
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {RUN_TIMEOUT_S} s")
        shutil.rmtree(work, ignore_errors=True)
        return 3
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(proc.stderr[-6000:])
        log(f"harness exited with {proc.returncode}")
        shutil.rmtree(work, ignore_errors=True)
        return 4
    with open(out) as f:
        rec = json.load(f)
    rec["env"]["harness_s"] = time.time() - t0
    setup = rec["setup"]
    window = rec["window"]
    # session start, the median version write and, for cold_pipeline, the
    # JIT warm-up or, for serve_warm, the registry fill
    rec["end_to_end"] = dict(
        {k: window[k] for k in ("wall_s", "queries_per_s", "query_p50_ms", "query_p90_ms",
                                "cache_peak_mb")},
        setup_s=setup["session_s"] + statistics.median(setup["version_gen_s"])
        + setup.get("fill_s", 0.0) + setup.get("warmup_s", 0.0))

    failures = list(rec["failures"])
    checks = [dict(c, root=root) for c in rec["oracle_checks"]]
    ofail, oracle_s = oracle_checks(checks, cpus)
    failures += ofail
    rfail, notes = report_checks(rec["report_checks"], oracle_rules(root))
    failures += rfail
    failures += [{"op": "guard", "error": v} for v in rec["guard_violations"]]
    attempted = (int(rec["attempted"]) + len(rec["oracle_checks"])
                 + sum(("cold" in c) + ("rerun" in c) for c in rec["report_checks"]))
    failed = len(failures)
    correct = failed == 0

    rec["env"].update({"git_head": git_head(root), "source_sha256": digest,
                       "run_wall_s": time.time() - t0})
    rec["checks"] = {"failures": failures, "notes": notes, "oracle_s": oracle_s,
                     "checks_s": time.time() - t0 - rec["env"]["harness_s"]}
    rec["fail_frac"] = {"value": failed / attempted, "failed": failed, "attempted": attempted}
    with open(os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    env_s = rec["env"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} on {env_s['spark_master']}"
          f" (nproc {env_s['nproc']}, heap {env_s['heap_gb']:.1f} GiB, JVM {env_s['jvm']},"
          f" Spark {env_s['spark']}, cpu probe {env_s['cpu_probe_ms_before']:.0f}/"
          f"{env_s['cpu_probe_ms_after']:.0f} ms, host steal {window['steal_s']:.2f} s in the"
          f" window, HEAD {env_s['git_head']})")
    for name, v in sorted(rec["end_to_end"].items()):
        print(f"  {name} = {v:.6g} {units[name]}")
    print(f"  fail_frac = {failed}/{attempted} = {failed / attempted:.4g} ratio"
          f" (operations that threw or failed a check / operations attempted)")
    for fl in failures:
        print(f"  FAILED {fl['op']}: {fl['error']}")
    for n in notes:
        print(f"  note: {n}")
    for face in rec["unchecked_faces"]:
        print(f"  note: {face} is timed but not oracle-checked (its DuckDB oracle outlasts a run)")
    values = rec["per_layer"] if a.trace else rec["end_to_end"]
    declared = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in declared if n not in values]
    if missing:
        log(f"the record lacks declared metrics: {missing}")
        return 5
    metrics = {n: {"value": values[n], "unit": units[n]} for n in declared}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
