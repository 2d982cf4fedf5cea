#!/usr/bin/env python3
"""Layered benchmark of the graft engine at local[4]; see perfbench/README.md.

    python3 perfbench/run.py --workload pipeline_fresh --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (perfbench/build.py),
runs one workload in a fresh JVM with all scratch state under `.bench_build/work`,
and prints the JVM's result object as the last line of standard output.
Exits non-zero without a result when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pipeline_fresh", "sketch_rollup")
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath, "graft.perfbench.Main"] + main_args)


def run_jvm(cmd, env, timeout):
    """Run `cmd` in its own process group; return stdout, or None on timeout
    or a non-zero exit. The whole group is gone when this returns."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        sys.stderr.write(f"perfbench: run exceeded {timeout} s\n")
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.returncode != 0:
        sys.stderr.write(f"perfbench: JVM exited with {proc.returncode}\n")
        return None
    return out.decode(errors="replace")


def crosscheck(dump):
    """Compare each dumped answer with its oracle SQL run by DuckDB over the same
    inputs, as exact multisets of rows. Prints one line per query."""
    import duckdb
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    ok = True
    for q, sql in sorted(oracles.items()):
        con = duckdb.connect()
        for table in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{dump}/{table}.parquet/*.parquet'")
        con.sql(f"CREATE TABLE oracle AS {sql}")
        con.sql(f"CREATE TABLE answer AS SELECT * FROM '{dump}/answers/{q}/*.parquet'")
        n_oracle = con.sql("SELECT count(*) FROM oracle").fetchone()[0]
        n_answer = con.sql("SELECT count(*) FROM answer").fetchone()[0]
        diff = con.sql("SELECT count(*) FROM ((SELECT * FROM answer EXCEPT ALL SELECT * FROM oracle) "
                       "UNION ALL (SELECT * FROM oracle EXCEPT ALL SELECT * FROM answer))").fetchone()[0]
        same = n_oracle == n_answer and diff == 0
        ok = ok and same
        print(f"{q}: {'ok' if same else 'MISMATCH'} ({n_answer} rows, oracle {n_oracle}, differing {diff})")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--selftest", action="store_true", help="check the benchmark's own arithmetic")
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected/ from this run instead of checking against it")
    ap.add_argument("--crosscheck", action="store_true",
                    help="compare the query probe's answers with the queries' DuckDB oracle SQL")
    args = ap.parse_args()
    if not (args.selftest or args.crosscheck or args.workload):
        ap.error("--workload is required")

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench build: {e}")

    work = os.path.join(build.ROOT, ".bench_build", "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    if args.selftest:
        main_args = ["--selftest"]
    elif args.crosscheck:
        main_args = ["--dump-catalog", os.path.join(work, "catalog"), "--size", args.size]
    else:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--size", args.size, "--work", work,
                     "--expected", os.path.join(build.HERE, "expected"),
                     "--record", "1" if args.record else "0"]
    try:
        out = run_jvm(jvm_command(classpath, work, main_args), env, RUN_TIMEOUT_S)
        if out is not None and args.crosscheck:
            sys.exit(0 if crosscheck(os.path.join(work, "catalog")) else 1)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            keep = os.path.join(build.ROOT, ".bench_build", "spans")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.exit(3)
    lines = [l for l in out.splitlines() if l.strip()]
    if args.selftest:
        print("\n".join(lines))
        sys.exit(0 if lines and lines[-1] == "selftest ok" else 1)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        sys.exit("perfbench: the run printed no result")
    for line in lines[:-2]:
        sys.stderr.write(line + "\n")
    if len(lines) > 1:
        print(lines[-2])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
