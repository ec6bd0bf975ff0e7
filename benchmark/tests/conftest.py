import os
import sys

# The benchmark's modules live beside `run.py`, which imports them as
# top-level modules; make the tests see them the same way.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
