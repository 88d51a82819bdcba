"""Registry-wide physical-plan canary id, kept as a view of the
registry sweep.

tests/test_registry_sweep.py inspects every key's final executed plan
once (no CartesianProduct; nested-loop joins, unpartitioned windows,
low-cardinality windows and scaling broadcasts within the key's
maxima in tests/contracts.py; no low-cardinality user repartition);
this id asserts that clause for every key.
"""

from __future__ import annotations

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import keys_view

test_no_cartesian_only_pinned_nljs_and_unpart_windows = keys_view(
    "plan", sorted(all_specs())
)
