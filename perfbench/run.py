#!/usr/bin/env python3
"""Layered benchmark of the graft engine: the daily Alpha Vantage ETL
(batch and gated stream) and iterative vs one-shot query lists.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Workloads: etl_daily and q_iterative (the ones BENCHMARK.json lists), and
etl_batch, etl_stream and q_oneshot for by-hand A/B runs (perfbench/LAYERS.md).
With --trace 0 the last stdout line is one JSON object with the end-to-end
metrics; with --trace 1 it carries the per-layer metrics of a traced run
instead, and the run's spans are kept under .bench_build/traces/.

The first run builds the benchmark (perfbench/build.sbt, which depends on
the engine's build in the repository root) with sbt and caches the
classpath under .bench_build/; later runs start the JVM directly. The
query workloads read the sf0.1 test tables: $SPARK_GRAFT_SF_DIR, else the
sf0.1 directory listed in TESTDATA.md. Every other file a run reads or
writes is under the repository root, and its work directory is deleted
when the run ends.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("etl_daily", "q_iterative", "etl_batch", "etl_stream", "q_oneshot")
RUN_LIMIT_S = 170  # a run (after any build) must end within 180 s
# A fixed heap; C1 only, which reaches its plateau within a few passes
# where C2 keeps speeding a q110 pass up over ten and more passes and
# settles at a different level in each JVM; and half the machine's cores,
# so the JVM's tasks, GC and compiler threads leave room for other load on
# the host instead of queueing behind it. A large code cache that never
# flushes cold methods: with flushing on, the code cache sweeper evicts
# compiled code some 50 s into a run and the C1 threads recompile it,
# a burst of several CPU seconds inside whichever operation is running.
JVM_FLAGS = ["-Xms4g", "-Xmx4g", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=512m", "-XX:-UseCodeCacheFlushing",
             f"-XX:ActiveProcessorCount={max(1, (os.cpu_count() or 2) // 2)}"]

# Spark 4 on JDK 17 outside spark-submit needs these module opens (the
# engine's build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the benchmark and the engine; returns the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    fp = fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    props = [
        "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={BUILD / 'sbt-global'}",
    ]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        props += ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                  f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt) ...")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run([sbt, "--batch", "-J-Xmx2g", *props,
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
    (BUILD / "build.log").open("a").write(r.stdout)
    lines = [l for l in r.stdout.splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {BUILD / 'build.log'})")
    cp_file.write_text(lines[-1])
    stamp.write_text(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def sf_dir():
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    doc = ROOT / "TESTDATA.md"
    m = doc.exists() and re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text())
    return m.group(1).rstrip("/") if m else ""


def load_check_module():
    spec = importlib.util.spec_from_file_location("check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(sf, checks):
    """Compares each checked query result with DuckDB on its oracle SQL, the
    way tools/check.py does. Returns one message per mismatch."""
    import duckdb
    check = load_check_module()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = []
    for c in checks:
        name = c["name"]
        t0 = time.time()
        try:
            want = con.execute(c["sql"]).fetch_df()
            got = con.execute(f"SELECT * FROM '{c['dir']}/*.parquet'").fetch_df()
            want, got = want[sorted(want.columns)], got[sorted(got.columns)]
            if list(want.columns) != list(got.columns):
                bad.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
                continue
            kinds = [col for col in want.columns
                     if "f" in (want[col].dtype.kind, got[col].dtype.kind)
                     and {want[col].dtype.kind, got[col].dtype.kind} & set("iu")]
            if kinds:
                bad.append(f"{name}: int/float dtype divergence in {kinds}")
                continue
            w = check.norm(want.itertuples(index=False, name=None))
            g = check.norm(got.itertuples(index=False, name=None))
            if w != g:
                bad.append(f"{name}: {len(g)} rows differ from the oracle's {len(w)}")
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: {type(e).__name__}: {e}")
        log(f"oracle {name}: {time.time() - t0:.2f} s")
    return bad


def layer_shares(spans):
    """Self time per layer as a share of the timed operations' wall."""
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    ops = sum(dur[s["id"]] for s in spans if s["parent"] not in by_id)
    shares = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer == "op":
            layer = "op (outside any layer call)"
        self_s = dur[s["id"]] - child.get(s["id"], 0.0)
        shares[layer] = shares.get(layer, 0.0) + self_s
    return {k: round(v / ops, 4) for k, v in sorted(shares.items())} if ops else {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources next to {BENCH.name}/ (expected build.sbt and src/main)")
    sf = sf_dir()
    if a.workload.startswith("q_") and not (sf and Path(sf, "lineitem.parquet").exists()):
        fail("sf0.1 test tables not found (set SPARK_GRAFT_SF_DIR)")
    cp = build()

    started = time.time()
    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--sf", sf or "-", "--work", str(work), "--out", str(result_file)]
    try:
        with open(work / "jvm.log", "w") as jlog:
            try:
                r = subprocess.run(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                                   timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_LIMIT_S} s", 3)
        if r.returncode != 0 or not result_file.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"benchmark JVM exited with {r.returncode}", 3)
        res = json.loads(result_file.read_text())
        failures = list(res["failures"])
        attempted = res["attempted"]
        checks = res.get("checks", [])
        if checks:
            failures += oracle_failures(sf, checks)
        if a.trace:
            spans = [json.loads(l) for l in (work / "spans.jsonl").read_text().splitlines()]
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", traces / f"{a.workload}-seed{a.seed}.spans.jsonl")
            shares = layer_shares(spans)
            (traces / f"{a.workload}-seed{a.seed}.shares.json").write_text(
                json.dumps(shares, indent=1))
            log(f"share of traced operation wall by layer (self time): {shares}")
    finally:
        if (work / "jvm.log").exists():
            shutil.copy(work / "jvm.log", BUILD / "last-jvm.log")
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        log(f"FAILED {f}")
    metrics = res["metrics"]
    log(f"ops {res['ops']}, setups {[round(s, 3) for s in res['setup_walls']]}, "
        f"{time.time() - started:.1f} s")
    correct = not failures and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
