"""Parse the formatted metric values Spark's status stores hand out.

The SQL status store returns every plan-node metric as a display
string, not a number:

* timings: ``509 ms``, ``13.0 s``, ``1.5 m``, ``2.00 h``;
* sizes: ``350.0 KiB``, ``0.0 B``, ``1.2 GiB``;
* counts: ``1,234,567``;
* aggregated over tasks:
  ``total (min, med, max (stageId: taskId))\\n13.0 s (509 ms, 1.2 s, 3.4 s (stage 2.0: task 5))``.

``parse_value`` turns any of these into a float in base units
(seconds, bytes or a plain count); for the aggregated form it returns
the total.
"""

from __future__ import annotations

import re

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)\s*([A-Za-z]*)")


def parse_value(text: str) -> float:
    """Return the value of one formatted Spark metric in base units.

    Raises ``ValueError`` on a string that holds no number, so a format
    change in Spark shows up as an error, not as a silent zero.
    """
    lines = [ln for ln in str(text).strip().splitlines() if ln.strip()]
    if not lines:
        raise ValueError(f"empty metric value: {text!r}")
    # aggregated form: the header line names the columns, the last line
    # holds "total (min, med, max ...)"
    line = lines[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")
