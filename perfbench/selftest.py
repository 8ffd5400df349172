"""Self-test of the benchmark: each workload at a tiny size, a few seconds each.

Every run checks its outputs and also feeds each correctness gate a corrupted
expectation (ingest_cow: the CDC fold with one delete dropped; view_refresh:
a view group sum off by one, plus the fold; analytics: an oracle result with
one wrong cell). The self-test passes when every run is correct and every gate
rejected its corruption.

Usage: python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ["ingest_cow", "view_refresh", "analytics"]


def main():
    failures = 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "7",
             "--seconds", "1", "--trace", "1", "--size", "tiny"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        rejected = "gates reject every corrupted expectation" in p.stderr
        ok = p.returncode == 0 and result.get("correct") is True and rejected
        failures += not ok
        print("%-4s %-13s correct=%s gates-reject-corruption=%s operations=%s" % (
            "ok" if ok else "FAIL", w, result.get("correct"), rejected, result.get("attempted")))
        if not ok:
            sys.stderr.write(p.stderr[-4000:])
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
