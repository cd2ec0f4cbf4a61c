"""The suite's own reporting (``tests/conftest.py``)."""

from __future__ import annotations

from types import SimpleNamespace

import conftest


def test_data_skips_print_one_counted_line():
    """Skips for an absent reference data set are counted and named on
    one line; other skips are not."""
    skipped = [
        SimpleNamespace(nodeid="a.py::x", longrepr=("a.py", 1, "Skipped: reference graph absent")),
        SimpleNamespace(nodeid="b.py::y", longrepr=("b.py", 2, "Skipped: testdata absent")),
        SimpleNamespace(nodeid="c.py::z", longrepr=("c.py", 3, "Skipped: no stock GIFs")),
    ]
    lines = []
    conftest.pytest_terminal_summary(
        SimpleNamespace(stats={"skipped": skipped}, write_line=lines.append)
    )
    assert lines == ["2 skipped for absent reference data: a.py::x, b.py::y"]
    lines.clear()
    conftest.pytest_terminal_summary(SimpleNamespace(stats={}, write_line=lines.append))
    assert lines == []
