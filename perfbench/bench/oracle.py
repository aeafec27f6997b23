"""Checks query outputs against their DuckDB oracles with tools/check.py.

check.py is the repository's oracle comparison. It is run unchanged, on
the output directory of the last timed pass, which holds one parquet
directory per query and the oracle_sql.json the harness wrote.
"""
import os
import re
import subprocess
import sys

_LINE = re.compile(r"^(PASS|FAIL|CLOSE) ([A-Za-z0-9_]+)\b(.*)$")


def parse(output):
    """{query: (passed, detail)} from check.py's report lines."""
    verdicts = {}
    for line in output.splitlines():
        m = _LINE.match(line)
        if m:
            verdicts[m.group(2)] = (m.group(1) == "PASS", m.group(3).strip(" :"))
    return verdicts


def check(root, sf_dir, out_dir, names, timeout):
    """{query: (passed, detail)} for every name; a query check.py did not
    report on (no oracle, or a crash) fails with the reason."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), sf_dir, out_dir, *sorted(names)],
        capture_output=True, text=True, timeout=timeout, cwd=root)
    verdicts = parse(proc.stdout)
    tail = (proc.stderr.strip().splitlines() or ["no report"])[-1]
    return {n: verdicts.get(n, (False, f"not checked: {tail}")) for n in names}
