from __future__ import annotations

import pytest

from perfbench.sparkfmt import parse_value


@pytest.mark.parametrize(
    "text, expected",
    [
        ("509 ms", 0.509),
        ("13.0 s", 13.0),
        ("1.5 m", 90.0),
        ("2.00 h", 7200.0),
        ("350.0 KiB", 350.0 * 1024),
        ("0.0 B", 0.0),
        ("1.2 GiB", 1.2 * 2**30),
        ("1,234,567", 1234567.0),
        ("42", 42.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "13.0 s (509 ms, 1.2 s, 3.4 s (stage 2.0: task 5))",
            13.0,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "350.0 KiB (1024.0 B, 10.0 KiB, 200.0 KiB (stage 7.0: task 31))",
            350.0 * 1024,
        ),
    ],
)
def test_parse_value(text, expected):
    assert parse_value(text) == pytest.approx(expected)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs"])
def test_parse_value_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_value(text)
