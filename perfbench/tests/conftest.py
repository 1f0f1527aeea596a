"""Make the repository root importable when the benchmark's own tests run
on their own: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
