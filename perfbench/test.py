"""Tests of the benchmark's own logic (generator determinism, percentile and
rate-ladder rules, open-loop late-request accounting, span self time).

    python3 perfbench/test.py

Builds like run.py, then runs perfbench.SelfTest; exits non-zero on failure.
"""

import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402


def main() -> int:
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    return subprocess.run([build.java_bin(), "-Xmx512m", "-cp",
                           os.pathsep.join(classpath), "perfbench.SelfTest"],
                          timeout=300).returncode


if __name__ == "__main__":
    sys.exit(main())
