#!/usr/bin/env python3
"""spinelink benchmark entry point.

    python3 perfbench/run.py --workload {bootstrap,incremental,stream} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Progress goes to stderr; the last line
of stdout is one JSON object (see README.md in this directory).
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.bench import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
