import sys
from pathlib import Path

# the benchmark's helpers import as the top-level package ``benchlib``
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
