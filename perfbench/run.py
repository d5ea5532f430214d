#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: llm_corpus, ingest_refresh (see BENCHMARK.json and
perfbench/METRICS.md). The command builds the harness together with graft's
sources (once per checkout; sbt, offline), stages the workload's inputs
from the project's sf0.001 fixtures (perfbench/data/sf0.001, a copy of the
read-only fixture set the project's checks use) and the seed into a fresh
run directory, runs one JVM (Spark local[N], N = CPUs), checks the outputs,
and prints every metric by name with its unit. The seed changes the query
order, the split of documents into ingest batches and the pack-store edits;
the fixture tables are the same on every seed. The last line of standard
output is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, measured untraced;
with --trace 1 they are the per-layer metrics of a traced run.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("llm_corpus", "ingest_refresh")
DATA = HERE / "data" / "sf0.001"  # fixture tables (lineitem 6,000 rows)
BATCHES = 6           # ingest_refresh batches staged per run
INITIAL_SHARE = 0.4   # share of events/documents loaded at set-up
EDIT_IDS = 5          # ids per pack-store delete / upsert
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return []


def cpu_times():
    """The machine's (steal, total) CPU jiffies from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation found (set SPARK_HOME)")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        fail(f"no jars directory under {home}")
    return str(jars)


def build():
    """Compile the harness with graft's sources; reuse the build while
    neither changes. Returns the runtime classpath."""
    sources = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    sources += sorted((HERE / "src").rglob("*.scala"))
    sources += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    target = HERE / "target"
    cp_file, stamp_file = target / "classpath.txt", target / "build.stamp"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (target / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", GRAFT_BENCH_SPARK_JARS=spark_jars(),
               TMPDIR=str(target / "tmp"))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if str(target / "scala-") in l and ":" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    target.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def stage_ingest(out, seed):
    """Split events (in time order) and documents (by a seeded id hash)
    into the initial load and BATCHES batches; pick the pack store's
    seeded deletes and upserts, made on even batches."""
    import numpy as np
    import pyarrow.parquet as pq

    def split(t):
        n = t.num_rows
        k0 = int(n * INITIAL_SHARE)
        cuts = [k0 + (n - k0) * b // BATCHES for b in range(BATCHES + 1)]
        return [t.slice(0, k0)] + [t.slice(cuts[b], cuts[b + 1] - cuts[b]) for b in range(BATCHES)]

    events = pq.read_table(DATA / "events.parquet").sort_by("ts")
    docs = pq.read_table(DATA / "documents.parquet")
    key = [hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest()
           for i in docs.column("doc_id").to_pylist()]
    docs = docs.take(sorted(range(docs.num_rows), key=key.__getitem__))
    counts = []
    for name, t in (("events", events), ("documents", docs)):
        (out / name).mkdir(parents=True)
        for b, part in enumerate(split(t)):
            pq.write_table(part, out / name / ("initial.parquet" if b == 0 else f"batch-{b:03d}.parquet"))
            counts.append(f"{name} {b} {part.num_rows}")
    (out / "counts.txt").write_text("\n".join(counts) + "\n")
    rng = np.random.default_rng(seed + 1)
    doc_parts = split(docs)
    live = set(doc_parts[0].column("doc_id").to_pylist())
    edits = []
    for b in range(1, BATCHES + 1):
        live |= set(doc_parts[b].column("doc_id").to_pylist())
        if b % 2 == 0:
            gone = rng.choice(sorted(live), EDIT_IDS, replace=False).tolist()
            live -= set(gone)
            changed = rng.choice(sorted(live), EDIT_IDS, replace=False).tolist()
            edits.append(f"{b} delete {','.join(map(str, gone))}")
            edits.append(f"{b} upsert {','.join(map(str, changed))}")
    (out / "edits.txt").write_text("\n".join(edits) + "\n")


def canon(v):
    """A value's canonical text: numbers as the float they denote (the
    oracle's comparison rule), timestamps in UTC, structures recursively."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, decimal.Decimal)) and not isinstance(v, bool):
        return repr(float(v) + 0.0) if abs(v) < 2 ** 53 else str(int(v))
    if isinstance(v, float):
        return repr(v + 0.0)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def result_hash(con, sql):
    """Order-insensitive hash of a result, columns taken in name order."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    rows = sorted("|".join(canon(r[i]) for i in order) for r in cur.fetchall())
    return hashlib.sha256("\n".join([",".join(sorted(names))] + rows).encode()).hexdigest(), len(rows)


def check_queries(checks, data):
    """Rows whose output is wrong: oracle rows against DuckDB running the
    row's oracle SQL on the same fixtures, the others against a repeat."""
    import duckdb
    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for p in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    wrong = {}
    for c in checks:
        name = c["name"]
        if c.get("error"):
            wrong[name] = "failed: " + c["error"]
            continue
        try:
            got = [result_hash(con, f"SELECT * FROM read_parquet('{d}/*.parquet')") for d in c["dumps"]]
            if c.get("oracle"):
                want = result_hash(con, c["oracle"])
                if got[0] != want:
                    wrong[name] = f"differs from oracle ({got[0][1]} vs {want[1]} rows)"
            elif len(set(got)) != 1:
                wrong[name] = "differs between repeats"
        except Exception as e:  # a result DuckDB cannot read counts as wrong
            wrong[name] = f"check error: {e}"
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--jvm-locale", default="",
                    help="run the JVM under this default locale, e.g. de-DE")
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT}")
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found")
    spec = json.loads(spec_file.read_text())

    load_start, cpu_start = loadavg(), cpu_times()
    classpath = build()
    run_dir = HERE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    if args.workload == "ingest_refresh":
        stage_ingest(run_dir / "ingest", args.seed)

    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if args.jvm_locale:
        lang, _, country = args.jvm_locale.partition("-")
        cmd += [f"-Duser.language={lang}", f"-Duser.country={country}"]
    cmd += ["-cp", classpath, "graftbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(run_dir), "--data", str(DATA), "--out", str(run_dir / "results.json")]
    (run_dir / "tmp").mkdir()
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                  env=dict(os.environ, TMPDIR=str(run_dir / "tmp")),
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out after {JVM_TIMEOUT_S}s; log: {log}")
    results_file = run_dir / "results.json"
    if proc.returncode != 0 or not results_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness JVM exited with {proc.returncode}; log: {log}")
    res = json.loads(results_file.read_text())

    ops = res["ops"]
    wrong = check_queries(res["checks"], DATA) if res["checks"] else {}
    wrong_notes = list(wrong.items()) + [("ingest", w) for w in res.get("wrong", [])]
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    failed = min(len(ops), failed + len(res.get("wrong", [])))
    for name, why in wrong_notes:
        print(f"wrong: {name}: {why}")
    for o in ops:
        if not o["ok"]:
            print(f"failed: {o['name']} (pass {o['pass']}): {o['error']}")

    if args.trace:
        values = dict(res["layers"])
        values["fail_ratio"] = failed / max(len(ops), 1)
        specs = spec["per_layer"]
    else:
        values = res["e2e"]
        specs = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in specs}
    steal, total = (b - a for a, b in zip(cpu_start, cpu_times()))
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6f} {m['unit']}")
    for kept in ("trace.json", "jvm.log"):
        if (run_dir / kept).exists():
            shutil.copy(run_dir / kept, HERE / "runs" / f"last-{args.workload}-{kept}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "setup_rounds_s": res["setup_rounds_s"], "passes_s": res["passes_s"],
                      "loadavg_start": load_start, "loadavg_end": loadavg(),
                      "cpu_steal_share": steal / max(total, 1)}))
    print(json.dumps({"correct": not wrong_notes and failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
