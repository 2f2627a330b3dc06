"""The oracle checker compares as the driver does: row count, column
names, and a SHA-256 over name-sorted, row-sorted ``str()`` cells. Pure
pandas, no Spark session."""

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_queries import compare  # noqa: E402


def test_compare_ignores_order_and_flags_one_cell():
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [0.5, None, 1.25]})
    shuffled = pdf.iloc[[2, 0, 1]][["c", "a", "b"]].reset_index(drop=True)
    assert compare(pdf, shuffled) == (True, True, True)

    changed = shuffled.copy()
    changed.loc[1, "c"] = 0.5000001  # original row 0
    assert compare(pdf, changed) == (True, True, False)

    assert compare(pdf, pdf.iloc[:2]) == (False, True, False)
    assert compare(pdf, pdf.rename(columns={"c": "d"})) == (True, False, False)


def test_driver_memory_follows_host_memtotal(tmp_path):
    """The tools size the driver heap at half the host's MemTotal,
    capped at their ceiling, so the driver JVM cannot outgrow a small
    host."""
    from host_memory import driver_memory

    def meminfo(kb):
        p = tmp_path / f"meminfo_{kb}"
        p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
        return str(p)

    small = meminfo(15 * 1024 * 1024)
    assert driver_memory(48, small) == "7g" and driver_memory(16, small) == "7g"
    assert driver_memory(48, meminfo(256 * 1024 * 1024)) == "48g"
    assert driver_memory(16, meminfo(1024 * 1024)) == "1g"
    assert driver_memory(16, str(tmp_path / "absent")) == "16g"
