#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine's main
sources together with the benchmark (sbt, offline) into perfbench/target;
later runs reuse the build while the sources are unchanged. Each run starts
one JVM (perfbench.Main) that drives the engine through its public entry
points, then checks outputs, derives the metrics and prints them: first one
human-readable line per figure with its sample count, and last one JSON
object {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics; `--trace 1` runs with spans and a scheduler listener
and reports the per-layer metrics, keeping the spans under
.bench_build/traces/. Everything else a run writes lives in a temp dir under
.bench_build/ that is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402

WORKLOADS = ("lake_serve", "ledger")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# The ledger's fixtures: a fixed half of the engine's sf0.1 documents and
# embeddings (data/make_sample.py), the same for every seed.
LEDGER_DATA = BENCH / "data"
# A fixed heap, so the collector never resizes it during a timed phase.
HEAP = "4g"
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
BUILD_TIMEOUT_S = 600
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine's main sources and the benchmark, unless the last
    build saw the same sources. Returns the classes directory."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources at src/main/scala; run from a full checkout")
    classes = BENCH / "target" / "scala-2.13" / "classes"
    stamp = BENCH / "target" / "perfbench.sources"
    digest = source_digest()
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    # sbt keeps its global state and temp files in the checkout too
    state = ROOT / ".bench_build" / "sbt"
    (state / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(state / "tmp"),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home()}/.sbt/repositories",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={state}/global", f"-Djava.io.tmpdir={state}/tmp",
        f"-Djna.tmpdir={state}/tmp", "-Xmx2g"]))
    log = ROOT / ".bench_build" / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0 or not classes.is_dir():
        fail(f"build failed (exit {rc}); see {log}:\n" + log.read_text()[-3000:])
    stamp.write_text(digest)
    return classes


def run_jvm(classes, args, work):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main"] + args)
    (work / "tmp").mkdir()
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                env=dict(os.environ, TMPDIR=str(work / "tmp")),
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S}s:\n" + log.read_text()[-3000:])
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not (work / "result.json").is_file():
        fail(f"run failed (exit {rc}):\n" + log.read_text()[-3000:])
    with open(work / "result.json") as f:
        return json.load(f)


def oracle_check(fixtures, results):
    """Compare each query's rows under `results` with DuckDB running the
    engine's oracle SQL (`results/oracle_sql.json`) over `fixtures`, using
    the repository's own tools/check_oracle.py. Returns {query: None when
    its rows match, else the checker's first line about it}."""
    queries = json.loads((results / "oracle_sql.json").read_text())
    try:
        p = subprocess.run(
            [sys.executable, str(ROOT / "tools" / "check_oracle.py"),
             str(fixtures), str(results)], capture_output=True, text=True,
            stdin=subprocess.DEVNULL, timeout=ORACLE_TIMEOUT_S)
        lines = p.stdout.splitlines()
    except subprocess.TimeoutExpired:
        lines = []
    verdict = {}
    for q in queries:
        mine = [ln for ln in lines if ln.split()[1:2] in ([q], [q + ":"])]
        ok = [ln for ln in mine if ln.startswith("OK ")]
        verdict[q] = None if ok and len(ok) == len(mine) else (
            mine[0] if mine else "no verdict from tools/check_oracle.py")
    return verdict


def print_lines(lines):
    """Print figures that carry a sample count; a percentile the run had
    too few samples for reads so instead of a value."""
    for name, v, unit, n in lines:
        shown = "too few samples" if v is None else f"{v:.6g} {unit}"
        print(f"# {name} = {shown} (n={n})")


def stop(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    tmp_root = ROOT / ".bench_build" / "tmp"
    tmp_root.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{a.workload}-", dir=tmp_root))
    try:
        res = run_jvm(classes, [a.workload, str(a.seed), str(a.seconds),
                                str(a.trace), str(work), str(LEDGER_DATA)], work)
        attempted, failed = res["attempted"], res["failed"]
        problems = list(res["errors"])
        if a.workload == "ledger":
            checked = oracle_check(LEDGER_DATA, work / "results")
            attempted += len(checked)
            for q, why in checked.items():
                if why:
                    failed += 1
                    problems.append(f"{q} oracle mismatch: {why}")
        for p in problems:
            print(f"# error: {p}")
        if a.trace:
            spans_path = work / "spans.jsonl"
            with open(spans_path) as f:
                spans = [json.loads(line) for line in f]
            traces = ROOT / ".bench_build" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(spans_path, traces / f"{a.workload}-seed{a.seed}.jsonl")
            out, counts, lines = metrics.per_layer(
                a.workload, res, spans, res["ledger_queries"])
            for k, m in out.items():
                n = f" (n={counts[k]})" if k in counts else ""
                print(f"# {k} = {m['value']:.6g} {m['unit']}{n}")
            print_lines(lines)
            # the traced run's own end-to-end figures, to set against an
            # untraced run of the same seed
            for k, m in metrics.end_to_end(a.workload, res)[0].items():
                print(f"# traced {k} = {m['value']:.6g} {m['unit']}")
        else:
            out, lines = metrics.end_to_end(a.workload, res)
            print_lines(lines)
            print(f"# error_rate = {failed / attempted:.6g} "
                  f"(failed {failed} of {attempted})")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
