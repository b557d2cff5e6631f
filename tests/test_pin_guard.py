"""Pin guard: ops/ and __spark_entry__.py pin and release intermediates
only through bella_domify_spark/ops/pins.py, so every pin has a release."""

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPS = os.path.join(ROOT, "bella_domify_spark", "ops")
RAW = re.compile(r"\.(persist\(|cache\(\)|localCheckpoint\(|checkpoint\(|"
                 r"unpersist\()")


def test_no_pin_outside_the_helper():
    paths = [os.path.join(OPS, f) for f in os.listdir(OPS)
             if f.endswith(".py") and f != "pins.py"]
    hits = []
    for path in paths + [os.path.join(ROOT, "__spark_entry__.py")]:
        with open(path, encoding="utf-8") as f:
            hits += [f"{os.path.relpath(path, ROOT)}:{i}: {line.strip()}"
                     for i, line in enumerate(f, 1) if RAW.search(line)]
    assert hits == []
