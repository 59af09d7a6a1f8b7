"""Code and tests resolve the checkout they sit in from ``__file__``:
no Python file names a fixed absolute checkout directory, so running
the gate or the suite from a copy never imports another tree."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: the historical fixed checkout location, assembled so this file does
#: not match itself
FIXED = "/root" + "/repo"


def test_no_python_file_names_a_fixed_checkout():
    files = [
        path
        for path in sorted(ROOT.rglob("*.py"))
        if not any(p.startswith(".") for p in path.relative_to(ROOT).parts)
    ]
    hits = [
        f"{path.relative_to(ROOT)}:{n}"
        for path in files
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if FIXED in line
    ]
    assert not hits, "fixed checkout path in:\n" + "\n".join(hits)
