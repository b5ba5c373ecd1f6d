"""Benchmark entry point; see perfbench/README.md.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "fluss_spark", "__init__.py")):
        sys.exit(f"error: no fluss_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    from fbench.runner import main

    sys.exit(main())
