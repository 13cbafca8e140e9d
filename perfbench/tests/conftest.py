import os
import sys

# run.py imports the benchmark's modules as top-level modules and the
# engine from the repository root; the tests do the same
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(_HERE)))
