"""Example budgets for the hypothesis property suites.

`DENALI_FUZZ_SCALE` multiplies every suite's default budget: a deep run
sets it to 5-10, and a plain run (scale 1) keeps the defaults, so tier-1
time does not move."""

from __future__ import annotations

import os


def examples(default: int) -> int:
    """`default` hypothesis examples, scaled by DENALI_FUZZ_SCALE."""
    return max(1, int(default * float(os.environ.get("DENALI_FUZZ_SCALE", "1"))))
