import os
import sys

# the repository root, so ``perfbench`` imports as a package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
