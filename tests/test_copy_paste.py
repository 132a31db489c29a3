"""Copy-paste ratchet: the package may not gain repeated code blocks.
Spark-free: reads every ``hudi_utility_spark/**/*.py`` as text.

A block is a window of 8 consecutive lines after normalisation: blank
and comment-only lines are skipped and runs of whitespace collapse to
one space. The test counts the distinct windows that occur more than
once anywhere in the package and fails above ``MAX_REPEATED_WINDOWS``.
A new repeat belongs in one helper (or one shared oracle string) beside
its callers. When a change removes repeats, lower the bound to the new
count so they cannot come back."""

from __future__ import annotations

import re
from collections import Counter
from pathlib import Path

WINDOW = 8
# the package's count today: lower it whenever a change removes repeats
MAX_REPEATED_WINDOWS = 21

PACKAGE = Path(__file__).resolve().parent.parent / "hudi_utility_spark"


def _normalised_lines(source: str) -> list[str]:
    lines = (re.sub(r"\s+", " ", line).strip() for line in source.splitlines())
    return [line for line in lines if line and not line.startswith("#")]


def _repeated_windows(sources: list[str], window: int = WINDOW) -> list[tuple]:
    counts = Counter(
        tuple(lines[i : i + window])
        for lines in map(_normalised_lines, sources)
        for i in range(len(lines) - window + 1)
    )
    return [w for w, n in counts.items() if n > 1]


def test_detector_ignores_blank_comment_and_spacing_differences():
    block = "\n".join(f"x{i} = {i}" for i in range(8))
    spaced = "\n".join(f"x{i}  =   {i}\n\n# note" for i in range(8))
    assert len(_repeated_windows([block, spaced])) == 1
    assert _repeated_windows([block, block.replace("x7", "y7")]) == []
    # a repeat inside one file counts too
    assert len(_repeated_windows([block + "\n" + block])) == 1


def test_repeated_blocks_do_not_grow():
    sources = [p.read_text() for p in sorted(PACKAGE.rglob("*.py"))]
    repeated = _repeated_windows(sources)
    assert len(repeated) <= MAX_REPEATED_WINDOWS, (
        f"{len(repeated)} repeated {WINDOW}-line windows (bound "
        f"{MAX_REPEATED_WINDOWS}); first lines: "
        + "; ".join(w[0] for w in repeated[:10])
    )
