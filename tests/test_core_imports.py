"""The core (log, multilog, indexes, writers, live tails) imports
nothing from the operator tier: no pandas, no ``operators``/``entry``
modules and no streaming operators."""

import os
import subprocess
import sys

CORE = [
    "margaret_spark.log",
    "margaret_spark.multilog",
    "margaret_spark.indexes",
    "margaret_spark.sources.writers",
    "margaret_spark.streaming.live",
]


def test_core_imports_no_operator_tier():
    # a fresh interpreter: this test session has imported everything
    code = (
        "import sys\n"
        + "".join(f"import {m}\n" for m in CORE)
        + "print('\\n'.join(sorted(sys.modules)))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo, capture_output=True, text=True, check=True, timeout=120,
    ).stdout.split()
    assert "pandas" not in out
    forbidden = [
        m
        for m in out
        if m.startswith(("margaret_spark.operators", "margaret_spark.entry"))
        or (m.startswith("margaret_spark.streaming.") and m != "margaret_spark.streaming.live")
    ]
    assert forbidden == []
