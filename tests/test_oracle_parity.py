"""Oracle-parity test ids, kept as views of the registry sweep.

Every registered query must match its DuckDB oracle exactly — the
local mirror of the driver's sf0.01 hash gate, run at sf0.001.
tests/test_registry_sweep.py checks that on its one build per key;
each id below asserts that clause of that build.
"""

from __future__ import annotations

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view

test_oracle_parity = key_view("parity", sorted(all_specs()))
