import sys
from pathlib import Path

# the repository root: makes ``perfbench`` and the engine package importable
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
