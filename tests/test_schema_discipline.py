"""Registry-wide output-schema discipline: every query's top-level output
columns must be ATOMIC (no array/map/struct).

The driver's correctness harness canonicalizes results through a pandas
``sort_values`` over object columns, which cannot hash Python lists or
dicts — a top-level ``array<...>`` column crashes the driver with
``unhashable type: 'list'`` even though the values are correct
(round 6: ``q_regexp_extract_all``). The builder-side comparator in
``tests/_compare.py`` tolerates lists (it tuples them), so nothing else
in-repo catches the lapse. Flatten arrays with ``array_join`` or explode
them before returning.

No query is built here: each reads the schema check of the one sf0.01
build that ``tests/test_oracle.py`` makes of it.
"""

from __future__ import annotations

import pytest

from .test_oracle import SPECS, assert_atomic, checked


@pytest.mark.parametrize("name", sorted(SPECS))
def test_top_level_fields_atomic(spark, name):
    assert_atomic(name, checked(spark, name))
