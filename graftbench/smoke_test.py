#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size, through
the same code as the real runs, untraced and traced.

    python3 graftbench/smoke_test.py

Asserts, for each run, that the result line has exactly the keys
correct, attempted, failed and metrics, that every metric BENCHMARK.json
names is emitted with its unit (the end-to-end metrics untraced, the
per-layer metrics traced), that no operation failed, and that every
correctness check ran: exactly-once delivery of both at-least-once faces,
the exactly-once read-back, both streaming sinks, the graft-bq scans and
each mix query's fingerprint.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 7


def expected_checks(report):
    names = set(report["checks"])
    needed = ["alo_default exactly-once delivery", "alo_keyed exactly-once delivery",
              "eo committed read equals input", "graft-bq stream commits neither lose nor duplicate",
              "ledger stream commits neither lose nor duplicate",
              "scan returns the committed rows and drops the corrupt lines"]
    needed += [f"q.{q} fingerprint" for q in report["mix_queries"]]
    return [n for n in needed if not any(c.startswith(n) for c in names)]


def main():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    problems = []
    for workload in [w["name"] for w in bench["workloads"]]:
        for trace, wanted in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
                   "--seconds", "1", "--trace", trace, "--size", "tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            tag = f"{workload} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append(f"{tag}: correct={result['correct']} failed={result['failed']} "
                                f"attempted={result['attempted']}")
            got = result["metrics"]
            for m in wanted:
                if m["name"] not in got:
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{tag}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
            extra = set(got) - {m["name"] for m in wanted}
            if extra:
                problems.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
            report_path = ROOT / ".bench_build" / "graftbench" / f"work-{workload}-{SEED}-{trace}-tiny" / "report.json"
            report = json.loads(report_path.read_text())
            missing = expected_checks(report)
            if missing:
                problems.append(f"{tag}: checks that did not run: {missing}")
            if not all(report["checks"].values()):
                problems.append(f"{tag}: failed checks {[k for k, v in report['checks'].items() if not v]}")
            print(f"{tag}: {len(got)} metrics, {len(report['checks'])} checks", flush=True)
    if problems:
        print("\n".join(["FAIL"] + problems))
        sys.exit(1)
    print("OK")


if __name__ == "__main__":
    main()
