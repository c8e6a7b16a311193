"""Registry consistency, no Spark session: every query has an oracle,
the package root's ``__all__`` resolves, and the checked-in
verification ledger matches the registry and the CORRECTNESS
artifacts it is built from."""

import json
from collections import Counter

import __spark_entry__ as entrymod
import pandera_forge_spark
from scripts.verification_ledger import LEDGER_PATH, build_ledger


def test_every_query_has_an_oracle_entry():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_root_all_resolves_without_repeats():
    names = pandera_forge_spark.__all__
    assert [n for n, k in Counter(names).items() if k > 1] == []
    assert [n for n in names if not hasattr(pandera_forge_spark, n)] == []


def test_ledger_on_disk_is_current():
    # regenerate with `python scripts/verification_ledger.py`
    assert json.loads(LEDGER_PATH.read_text()) == build_ledger()
