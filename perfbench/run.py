#!/usr/bin/env python3
"""Graft benchmark: seeded closed-loop workloads, timed end to end.

    python3 perfbench/run.py --workload cow_cdc_ingest --seed 1 --seconds 10 --trace 0

`--workload all` runs the three workloads one after another. With
`--trace 0` the last line of standard output is one JSON object holding the
end-to-end metrics of BENCHMARK.json; with `--trace 1` it holds the
per-layer metrics of a traced segment, which runs after an untraced one of
the same length so the tracing overhead can be read off; its spans and
Spark jobs are kept in .bench_build/traces/. Lines before it,
prefixed `#`, name every workload-specific metric with its unit. The exit
code is 0 only when every operation matched the benchmark's model.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["cow_cdc_ingest", "mor_query_mix", "corpus_dedup_ann"]
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code: int, msg: str):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def declared(trace: int) -> dict:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_one(workload: str, seed: int, seconds: int, trace: int, classes: Path) -> dict:
    work = build.OUT / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           "graftbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", str(work)]
    log = work / "stderr.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(3, f"{workload} exceeded {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    for line in lines[:-1]:
        print(line)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
    if proc.returncode != 0 or result is None:
        sys.stderr.write(log.read_text()[-6000:])
    if (work / "trace.jsonl").is_file():
        traces = build.OUT / "traces"
        traces.mkdir(exist_ok=True)
        shutil.move(str(work / "trace.jsonl"), str(traces / f"{workload}-seed{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail(4, f"{workload} printed no result (exit code {proc.returncode})")
    result["exit"] = proc.returncode
    if not result["correct"]:
        return result
    want = declared(trace)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        fail(5, f"{workload} metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    if not all(math.isfinite(v["value"]) for v in result["metrics"].values()):
        fail(5, f"{workload} printed a non-finite metric")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (1 <= a.seconds <= 60):
        fail(2, "--seconds must be between 1 and 60")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(2, f"build: {e}")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {w: run_one(w, a.seed, a.seconds, a.trace, classes) for w in names}
    if len(results) == 1:
        res = results[names[0]]
    else:
        res = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": v for w, r in results.items()
                           for k, v in r["metrics"].items()},
               "exit": max(r["exit"] for r in results.values())}
    code = res.pop("exit")
    print(json.dumps(res))
    sys.exit(code if code != 0 else (0 if res["correct"] else 1))


if __name__ == "__main__":
    main()
