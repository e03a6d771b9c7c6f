#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
harness from source (scalac from the Spark distribution) and generates the
input tables; both are cached under $CARGO_TARGET_DIR (default
.bench_build)/perfbench and rebuilt when their sources change.

A run starts one JVM (perfbench/src/Harness.scala), which sets up (session,
one untimed run of each query on the timed input, dumped for the
oracle, then one warm pass), then times passes over the workload's queries
in an order drawn from the seed for --seconds. Afterwards every dumped result
is compared with the DuckDB oracle by tools/check.py, and every timed count
with the dumped row count. The last stdout line is the result object; the
line before it is the run record. Exit status is nonzero on any failed or
mismatched query. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def find_spark_home():
    """$SPARK_HOME, else the first Spark installation on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).resolve().parent
        if (Path(d) / "spark-submit").exists() and (home / "jars").is_dir():
            return home
    return Path("spark-home-not-found")


SPARK_HOME = find_spark_home()
SCALA = "2.13.17"
JVM_TIMEOUT_S = 170

# Two closed-loop workloads over the generated sf0.1 tables. Each list is
# what fits one run's budget: the cold set-up, the timed passes and the
# oracle check in about a minute. Stream lanes get their own workload: mixed
# into the batch passes they made the text queries' times bimodal. The batch
# queries generate 62 classes per pass; Spark's generated-code cache holds
# 100 in four LRU segments of 25, keyed partly by a class loader's identity
# hash, so a workload near 100 classes overflows a segment in some JVMs and
# not others and its passes recompile at random (q_heavy_hitters' 15 more
# classes did that in about one run in five).
WORKLOADS = {
    "batch": ["q1_pricing", "q_partition_pruning", "q_tfidf_top",
              "q_bpe_apply"],
    "stream_replay": ["q_stream_tumbling", "q_stream_dedup"],
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def cached(target, stamp, make):
    """Runs make(tmp_dir) unless target holds stamp; swaps the result in."""
    stamp_file = target / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return target
    tmp = target.with_name(target.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    make(tmp)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(target, ignore_errors=True)
    tmp.rename(target)
    return target


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_cp():
    return str(SPARK_HOME / "jars" / "*")


def build():
    sources = list((ROOT / "src" / "main" / "scala").rglob("*.scala")) + \
        list((HERE / "src").glob("*.scala"))
    jars = SPARK_HOME / "jars"
    compiler = [jars / f"scala-{m}-{SCALA}.jar"
                for m in ("compiler", "library", "reflect")]
    if not all(j.exists() for j in compiler):
        fail(f"scala {SCALA} compiler jars not found under {jars}")

    def make(out):
        cmd = [java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp",
               os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
               "-nowarn", "-classpath", spark_cp(), "-d", str(out),
               *map(str, sorted(sources))]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
    return cached(BUILD / "classes", tree_hash(sources), make)


def inputs(scale):
    """The generated tables for `scale` (sf0.1 or sf0.001)."""
    gen = HERE / "gen_data.py"

    def make(out):
        subprocess.run([sys.executable, str(gen), scale[2:], str(out)], check=True)
    return cached(BUILD / "data" / scale, tree_hash([gen]) + scale, make)


def cpu_times():
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def host_state():
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    steal, total = cpu_times()
    return {"loadavg": load, "steal_jiffies": steal, "total_jiffies": total}


def source_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except OSError:
        pass
    main = list((ROOT / "src" / "main").rglob("*.scala"))
    return "src-sha256:" + tree_hash(main)[:16]


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def run_jvm(classes, main_class, args, run_dir):
    """Runs the harness JVM; returns (exit code, peak RSS MB or None)."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    tmp = run_dir / "tmp"
    tmp.mkdir()
    # graft.Bench's heap and code cache (build.sbt), so peak RSS and
    # collection behave as in the driver's JVM.
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = [java(), *opens, "-XX:-UsePerfData", f"-Xmx{heap}",
           "-XX:ReservedCodeCacheSize=240m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join([str(classes), spark_cp()]), main_class, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    log = open(run_dir / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=log, text=True)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    rss = None
    try:
        for line in proc.stdout:
            if line.strip() == "PERFBENCH_DONE":
                rss = peak_rss_mb(proc.pid)
                break
            sys.stderr.write(line)
        proc.stdin.close()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    log_text = (run_dir / "jvm.log").read_text()
    if proc.returncode != 0:
        sys.stderr.write(log_text[-6000:])
    else:
        sys.stderr.writelines(l + "\n" for l in log_text.splitlines()
                              if l.startswith(("perfbench:", "FAIL", "selftest:")))
    return proc.returncode, rss


def oracle(data, dump, queries):
    """Compares every dumped result with its DuckDB oracle through
    tools/check.py; returns {query: check.py's status record}. Some oracle
    SQL takes tens of seconds in DuckDB, so a result whose canonical content
    already passed against the same tables and SQL is not checked again."""
    sys.path.insert(0, str(ROOT / "tools"))
    sys.dont_write_bytecode = True
    import check
    import duckdb
    import pandas as pd
    sqls = json.loads((dump / "oracle_sql.json").read_text())
    # a verdict holds only for the compare rule and the engines that gave it
    oracle_key = hashlib.sha256((ROOT / "tools" / "check.py").read_bytes())
    oracle_key.update(f"duckdb {duckdb.__version__} pandas {pd.__version__}".encode())
    memo = BUILD / "oracle_passed" / oracle_key.hexdigest()[:16]
    memo.mkdir(parents=True, exist_ok=True)
    stamp = (data / ".stamp").read_bytes() if (data / ".stamp").exists() \
        else str(data.resolve()).encode()
    results, digests = {}, {}
    todo = dump / "unchecked"
    todo.mkdir()
    for q in queries:
        files = sorted((dump / q).glob("*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files \
            else pd.DataFrame()
        h = hashlib.sha256(stamp)
        h.update(sqls.get(q, "").encode())
        h.update(check.canon(got).to_csv().encode())
        digests[q] = h.hexdigest()
        if (memo / digests[q]).exists():
            results[q] = json.loads((memo / digests[q]).read_text())
        else:
            (dump / q).rename(todo / q)
    if any(todo.iterdir()):
        (todo / "oracle_sql.json").write_text(json.dumps(sqls))
        out = dump / "check.json"
        subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"),
                        str(data), str(todo), str(out)], stdout=subprocess.DEVNULL)
        checked = json.loads(out.read_text()) if out.exists() else {}
        for q in queries:
            if q in checked:
                results[q] = checked[q]
                if checked[q]["status"] == "pass":
                    (memo / digests[q]).write_text(json.dumps(checked[q]))
    return results


def bench(workload, seed, seconds, trace, data_dir):
    queries = WORKLOADS[workload]
    classes = build()
    data = Path(data_dir).resolve() if data_dir else inputs("sf0.1")
    runs = BUILD / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    run_dir = runs / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "dump").mkdir(parents=True)
    traces = BUILD / "traces"
    traces.mkdir(exist_ok=True)
    result = run_dir / "result.json"
    n = min(4, os.cpu_count() or 1)
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "data": str(data), "nproc": os.cpu_count(), "cpus": n,
              "source": source_head(), "host_before": host_state()}
    try:
        code, rss = run_jvm(classes, "perfbench.Harness", [
            "--queries", ",".join(queries),
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", str(data),
            "--dump", str(run_dir / "dump"), "--result", str(result),
            "--spans", str(traces / f"{workload}-s{seed}.jsonl"),
            "--cpus", str(n),
            "--bench-source", str(ROOT / "src/main/scala/graft/Bench.scala")],
            run_dir)
        if code != 0 or rss is None or not result.exists():
            print(f"perfbench: harness exited with {code}", file=sys.stderr)
            return 1
        res = json.loads(result.read_text())
        checked = oracle(data, run_dir / "dump", queries)
    finally:
        record["host_after"] = host_state()
        shutil.rmtree(run_dir, ignore_errors=True)

    dump_rows = res["dump_rows"]
    bad = {}
    for q in queries:
        status = checked.get(q, {}).get("status")
        if status == "fail":
            bad[q] = checked[q].get("reason", "oracle mismatch")
        elif status == "skip" and dump_rows[q] <= 0:
            bad[q] = "no oracle SQL and no rows"
        elif status is None:
            bad[q] = "not checked"
    failed = 0
    for r in res["runs"]:
        if "error" in r:
            failed += 1
            bad.setdefault(r["name"], r["error"])
        elif r["rows"] != dump_rows[r["name"]]:
            failed += 1
            bad.setdefault(r["name"], f"{r['rows']} rows, checked {dump_rows[r['name']]}")
        elif r["name"] in bad:
            failed += 1
    attempted = len(res["runs"])
    e2e = res["e2e"]
    spec_metrics = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = res["layers"] if trace else \
        dict(e2e, setup_s=res["setup_s"])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec_metrics["per_layer" if trace else "end_to_end"]}
    before, after = record["host_before"], record["host_after"]
    record.update({
        "failed_ratio": failed / attempted, "failures": bad,
        "passes": e2e["passes"], "samples": e2e["query_s.samples"],
        "p50_s": e2e["query_s.p50"], "tail_s": e2e["query_s.tail"],
        "tail_percentile": e2e["query_s.tail_percentile"],
        "cpu_s": e2e["cpu_s"],
        "session_s": res["session_s"], "setup_parts": res["setup_parts"],
        "peak_rss_mb": rss,
        "steal_share": (after["steal_jiffies"] - before["steal_jiffies"]) /
        max(1, after["total_jiffies"] - before["total_jiffies"])})
    record_dir = BUILD / "records"
    record_dir.mkdir(exist_ok=True)
    tag = "-data" if data_dir else ""
    (record_dir / f"{workload}-s{seed}-t{trace}{tag}.json").write_text(
        json.dumps(dict(record, runs=res["runs"]), indent=1))
    print(json.dumps({"record": record}))
    correct = not bad and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def selftest():
    classes = build()
    run_dir = BUILD / "runs" / f"selftest-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        code, _ = run_jvm(classes, "perfbench.SelfTest",
                          [str(inputs("sf0.001")),
                           str(ROOT / "src/main/scala/graft/Bench.scala")], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest", "passed" if code == 0 else "FAILED")
    return code


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--data", help="read the tables from this directory instead "
                    "of the generated sf0.1 tables (to compare table sets)")
    a = ap.parse_args()
    for need in ("BENCHMARK.json", "src/main/scala/graft/SparkEntry.scala",
                 "src/main/scala/graft/Bench.scala", "tools/check.py"):
        if not (ROOT / need).is_file():
            fail(f"{need} not found: run from the root of a checkout")
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    return bench(a.workload, a.seed, a.seconds, a.trace, a.data)


if __name__ == "__main__":
    sys.exit(main())
