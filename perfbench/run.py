"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload queries_contract --seed 1 --seconds 120 --trace 0 \
        --sf-dir <table dir, e.g. the sf0.1 tables of TESTDATA.md>

Run from the repository root. Builds the program from source on first use
(see build.py), then starts one JVM at local[nproc] (perfbench.Main). The
line before the result holds the host facts. Exits non-zero, without a
result line, when the build or the run fails, and prints the result but
exits 1 when an output check fails.
"""
import argparse
import contextlib
import io
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
# a BENCHMARK.json workload must finish within 180 s; queries_contract is
# not one of them and takes minutes
TIMEOUT_S = {"queries_contract": 1200}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise SystemExit("perfbench: no MemTotal in /proc/meminfo")


def heap_mb(mem_kb):
    # a quarter of the host, between 1 and 3 GiB: the benchmark shares the
    # host, and its corpora need far less
    return max(1024, min(3072, mem_kb // 4096))


def java_version():
    r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stderr=subprocess.PIPE, text=True)
    return r.stderr.splitlines()[0] if r.stderr else "unknown"


def git_commit():
    if not (ROOT / ".git").exists() or not shutil.which("git"):
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def expected_metrics(workload, trace):
    """The metric names BENCHMARK.json promises for a workload it lists."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def oracle_check(qout, sf_dir):
    """DuckDB check of the query results with scripts/selfcheck.py; returns
    (passed, summary line)."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import selfcheck
    for attempt in range(2):  # duckdb can fail to allocate right after a JVM exits
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                code = selfcheck.main(str(qout), sf_dir)
            break
        except Exception as e:  # noqa: BLE001
            if attempt:
                return False, f"oracle check raised {e!r}"
    lines = buf.getvalue().splitlines()
    sys.stderr.write("\n".join(l for l in lines if l.startswith("FAIL")) + "\n")
    return code == 0, lines[-1] if lines else ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="table directory of queries_contract (TESTDATA.md)")
    a = ap.parse_args()
    if a.workload == "queries_contract" and not a.sf_dir:
        ap.error("queries_contract needs --sf-dir")
    want = expected_metrics(a.workload, a.trace)
    timeout = TIMEOUT_S.get(a.workload, 170)

    classes, stamp = build.build()
    work = build.BUILD / "work"
    logs = build.BUILD / "logs"
    for d in ("out", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(work / d, ignore_errors=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    logs.mkdir(parents=True, exist_ok=True)
    result = work / "result.json"
    result.unlink(missing_ok=True)

    mem_kb = mem_total_kb()
    heap = heap_mb(mem_kb)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--result", str(result),
            "--sf-dir", a.sf_dir or ""])
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    t0 = time.monotonic()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: run exceeded {timeout} s (log: {log})")
    for d in ("out", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(work / d, ignore_errors=True)
    if code != 0 or not result.exists():
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: harness exited {code} (log: {log})")

    r = json.loads(result.read_text())
    info = r.pop("info")
    if "qout" in info and r["correct"]:
        r["correct"], info["oracle_check"] = oracle_check(info["qout"], a.sf_dir)
        shutil.rmtree(info.pop("qout"), ignore_errors=True)
    host = {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_kb,
        "jvm": java_version(),
        "spark": info.pop("spark_version"),
        "xmx_mb": heap,
        "git_commit": git_commit(),
        "source_hash": stamp,
        "parallelism": f"local[{info.pop('cores')}]",
        # the levels graft.Bench reports; this host cannot run them, so they
        # are skipped rather than pinned onto fewer cores
        "skipped_levels": [n for n in (8, 32) if n > os.cpu_count()],
        "wall_s": round(time.monotonic() - t0, 3),
    }
    print(json.dumps({"host": host, "run": info}))
    if not r["correct"]:
        r["metrics"] = {}
    elif want is not None:
        missing = want - set(r["metrics"])
        extra = set(r["metrics"]) - want
        if missing or extra:
            raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                             f"missing {sorted(missing)}, unexpected {sorted(extra)}")
    print(json.dumps(r))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
