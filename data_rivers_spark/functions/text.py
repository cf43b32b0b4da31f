"""Driver-side string helpers (column renaming, casing).

Parity: camel_to_snake_case (reference dataflow_utils.py:844-848).
"""

from __future__ import annotations

import re

_CAMEL_1 = re.compile(r"(.)([A-Z][a-z]+)")
_CAMEL_2 = re.compile(r"([a-z0-9])([A-Z])")


def camel_to_snake_case(val: str, strip_field: str = "") -> str:
    """camelCase/PascalCase → snake_case, optionally stripping a substring first."""
    if strip_field:
        val = val.replace(strip_field, "")
    s1 = _CAMEL_1.sub(r"\1_\2", val)
    return _CAMEL_2.sub(r"\1_\2", s1).lower()

