"""Registry manifest guard.

Pins the driver-visible surface of the query registry: every name of
``__spark_entry__.queries()`` in driver order, the sha256 of each oracle
string, and each analysed output schema. Any refactor of how queries
enter the registry must leave this manifest byte-identical.

Regenerate the golden file (only when a query is deliberately added,
removed or changed) with::

    python tests/test_registry_manifest.py
"""

from __future__ import annotations

import hashlib
import json
import os
import re

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "registry_manifest.json")

_PLACEHOLDER = re.compile(r"^__[A-Z0-9_]+__$")


def _schema_rows(schema) -> list[list]:
    return [[f.name, f.dataType.simpleString(), f.nullable] for f in schema.fields]


def _names_and_hashes() -> tuple[list[str], dict[str, str]]:
    import __spark_entry__ as entry

    names = list(entry.queries())
    oracles = entry.oracle_sql()
    hashes = {
        n: hashlib.sha256(oracles[n].encode("utf-8")).hexdigest() for n in oracles
    }
    return names, hashes


def _load_golden() -> dict:
    with open(GOLDEN, encoding="utf-8") as fh:
        return json.load(fh)


def test_registry_names_in_driver_order():
    names, _ = _names_and_hashes()
    assert names == _load_golden()["names"]


def test_oracle_hashes_unchanged():
    names, hashes = _names_and_hashes()
    assert list(hashes) == names
    assert hashes == _load_golden()["oracle_sha256"]


def test_no_placeholder_oracle_registered():
    import __spark_entry__ as entry

    bad = sorted(n for n, sql in entry.oracle_sql().items() if _PLACEHOLDER.match(sql))
    assert not bad, f"placeholder oracle strings reached the registry: {bad}"


def test_output_schemas_unchanged(registry_plans):
    golden = _load_golden()["schemas"]
    got = {n: _schema_rows(registry_plans[n].schema) for n in golden}
    assert set(registry_plans) == set(golden)
    diff = sorted(n for n in golden if got[n] != golden[n])
    assert not diff, f"output schema changed for: {diff}"


def _write_golden() -> None:
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cioos_siooc_data_transform_spark.session import get_spark

    from tests.conftest import SF_DIR_SMOKE

    names, hashes = _names_and_hashes()
    import __spark_entry__ as entry

    spark = get_spark("registry-manifest", shuffle_partitions=8)
    try:
        qs = entry.queries()
        schemas = {n: _schema_rows(qs[n](spark, SF_DIR_SMOKE).schema) for n in names}
    finally:
        spark.stop()
    with open(GOLDEN, "w", encoding="utf-8") as fh:
        json.dump(
            {"names": names, "oracle_sha256": hashes, "schemas": schemas},
            fh,
            indent=1,
        )
        fh.write("\n")


if __name__ == "__main__":
    _write_golden()
