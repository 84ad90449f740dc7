#!/usr/bin/env python3
"""Check the bench stdout contract: the last line a bench run prints to
stdout must parse as one JSON object (the metric line).

    SPARK_GRAFT_SF_DIR=/path/to/sf0.1 sbt -batch "runMain graft.Bench" \\
        2>/dev/null | python3 tools/check_bench_stdout.py

Reads the captured stdout from a file argument or from stdin. Exits 0
and prints the parsed metric name when the contract holds, 1 otherwise.
"""
import json
import sys


def last_line(text):
    lines = text.splitlines()
    return lines[-1] if lines else ""


def main(argv):
    if len(argv) > 1:
        with open(argv[1], encoding="utf-8", errors="replace") as fh:
            text = fh.read()
    else:
        text = sys.stdin.read()
    line = last_line(text)
    try:
        obj = json.loads(line)
    except ValueError as e:
        print(f"FAIL: last stdout line is not JSON ({e}): {line[:200]!r}")
        return 1
    if not isinstance(obj, dict):
        print(f"FAIL: last stdout line is JSON but not an object: {line[:200]!r}")
        return 1
    print(f"OK: last stdout line is a JSON object (metric={obj.get('metric')!r})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
