#!/usr/bin/env python3
"""Benchmark entry point: python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1, from the root of a spark-graft checkout."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench.cli import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
