"""Make the benchmark's modules importable the way ``run.py`` imports
them (the benchmark directory first, then the checkout root)."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
