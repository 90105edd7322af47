import os
import sys

# the repository root, so ``perfbench`` and the package import by name
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
