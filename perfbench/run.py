"""graft's benchmark: CDC ingest, landed-state queries and graph loops.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source (see build.py), runs one
workload in a fresh JVM and prints the run record (inputs, run context,
the workload's own figures) as one JSON line, then the result object
{"correct", "attempted", "failed", "metrics"} as the last line. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes stays
under the build directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_ingest", "cdc_query", "graph_loops")


def run_jvm(cmd: list, work: Path, timeout: float) -> subprocess.CompletedProcess:
    log = work / "jvm.log"
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=work)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"benchmark JVM exceeded {timeout:.0f} s; log: {log}")
    if p.returncode != 0:
        sys.stderr.write(out[-3000:] + log.read_text()[-6000:])
        raise SystemExit(f"benchmark JVM exited {p.returncode}; log: {log}")
    return subprocess.CompletedProcess(cmd, p.returncode, out, "")


def check_result(result: dict, trace: int, spec: dict) -> None:
    """The result object must carry exactly the registered metrics."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"result keys {sorted(result)}")
    want = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != units:
        raise SystemExit(f"metrics differ from BENCHMARK.json: "
                         f"{sorted(set(got.items()) ^ set(units.items()))[:10]}")
    if result["attempted"] < 1:
        raise SystemExit("no op attempted")


def main() -> None:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())

    out = build.out_dir()
    out.mkdir(parents=True, exist_ok=True)
    compiled = build.build(out)
    work = out / "work" / f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # a run ends within 180 s, or 900 s when it had to build first
    timeout = (880.0 if compiled else 175.0) - (time.monotonic() - started)
    try:
        if a.selftest:
            r = run_jvm(build.java_cmd(out, work, "graftbench.SelfTest"), work, timeout)
            sys.stdout.write(r.stdout)
            return
        cmd = build.java_cmd(out, work, "graftbench.Main") + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)]
        r = run_jvm(cmd, work, timeout)
        lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
        if len(lines) < 2:
            raise SystemExit(f"no result from the benchmark JVM; log: {work / 'jvm.log'}")
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        check_result(result, a.trace, spec)
        runs = out / "runs"
        runs.mkdir(exist_ok=True)
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
        (runs / f"{stem}.json").write_text(json.dumps(record) + "\n")
        if (work / "spans.jsonl").is_file():
            shutil.copy(work / "spans.jsonl", runs / f"{stem}.spans.jsonl")
        print(json.dumps(record))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
