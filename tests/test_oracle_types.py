"""Registry-wide oracle TYPE lint — the guard against the round-5
driver hash-FAIL class.

The driver hashes the string form of each cell after pandas
conversion. DuckDB types integer window-``SUM``s (and several other
integer aggregates) as ``HUGEINT``; pandas ``fetchdf`` renders
HUGEINT as float64, so a value-correct oracle still hash-fails
(``"123.0"`` vs Spark's ``"123"``). Round 5 lost
``corpus_pack_sequences`` and ``text_cdc_chunks`` to exactly this.

This lint runs ``DESCRIBE`` on every registered oracle in DuckDB (no
data execution) and fails on any ``HUGEINT`` / ``UHUGEINT`` output
column (pandas → float64, guaranteed driver hash breakage for integer
semantics). It fails if the ``CAST(... AS BIGINT)`` fixes in
extensions/training.py are ever reverted.

The int-vs-float class agreement between the Spark schema and the
DuckDB schema is one clause of the registry sweep
(tests/test_registry_sweep.py), which reads the real schema of every
key's single build.
"""

from __future__ import annotations

import pytest

from clickhousebackup_spark.registry import all_specs
from tests.compare import duck_class
from tests.test_registry_sweep import keys_view


@pytest.fixture(scope="module")
def oracled_specs():
    return {k: s for k, s in all_specs().items() if s.oracle}


def test_no_hugeint_in_any_oracle(oracled_specs, duck):
    """Every oracle's DESCRIBE must be HUGEINT-free."""
    offenders = {}
    for key, spec in oracled_specs.items():
        try:
            rows = duck.execute(f"DESCRIBE ({spec.oracle})").fetchall()
        except Exception as e:  # noqa: BLE001 — surface as lint failure
            offenders[key] = f"DESCRIBE failed: {e}"
            continue
        bad = [c for c, t, *_ in rows if duck_class(t) == "HUGEINT"]
        if bad:
            offenders[key] = f"HUGEINT columns {bad} — CAST(... AS BIGINT)"
    assert not offenders, (
        "oracles whose output would become float64 via pandas "
        f"(driver hash breakage): {offenders}"
    )


test_spark_duck_numeric_class_parity = keys_view("types", sorted(all_specs()))
